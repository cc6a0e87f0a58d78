package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: write each named query's `.explain("formatted")`
  * output to `<outDir>/<query>_<tag>.txt` — the round-15 optimization
  * deliverable (`plans/r15/<query>_before.txt` / `_after.txt`), captured
  * under the SAME cores/shuffle-partitions as the driver bench so the
  * committed plan matches what the timings ran. Unlike [[PlanProbe]]
  * (post-AQE executed plan, for timing attribution), this prints the
  * formatted pre-execution plan: operator list with PushedFilters /
  * ReadSchema / join build sides — the shape the optimization guide's
  * checklist reads.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <tag> <query...>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ExplainDump <sfDir> <outDir> <tag> <query...>")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = Harness.select(args.drop(3).toSeq)
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
