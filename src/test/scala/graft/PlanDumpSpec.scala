package graft

import java.nio.file.Files

/** [[PlanDump.dump]]: the formatted pre-execution plan lands in
  * `<outDir>/<query>_<tag>.txt`, and the returned plan is the final one
  * that ran.
  */
class PlanDumpSpec extends GraftSuite {

  test("dump writes the formatted plan and returns the final plan") {
    val out = Files.createTempDirectory("plan_dump")
    try {
      val (sec, plan) = PlanDump.dump(spark, sf, out.toString, "t",
        "tpch_q1")
      val file = out.resolve("tpch_q1_t.txt")
      assert(Files.exists(file))
      val txt = new String(Files.readAllBytes(file), "UTF-8")
      assert(txt.contains("== Physical Plan =="), txt)
      assert(sec > 0)
      assert(plan.nonEmpty)
      assert(!plan.contains("isFinalPlan=false"), plan)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }
}
