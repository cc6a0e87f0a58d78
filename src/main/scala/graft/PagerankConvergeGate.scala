package graft

/** Measures the convergence-stopped PageRank
  * ([[operators.Graph.pagerankConverged]]) against the fixed-iteration
  * oracle query at a replicated `factor`× warehouse: rounds actually
  * run, wall for each mode, and whether the two heads agree (they must
  * at any eps tight enough — the fixed count was chosen as "well past
  * converged" on this graph family).
  *
  * Usage: runMain graft.PagerankConvergeGate [factor] [srcSfDir]
  *   [scratchDir] [eps]
  * Artifact: pagerank_converge_<factor>x.json
  */
object PagerankConvergeGate {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val eps = args.lift(3).map(_.toDouble).getOrElse(1e-2)
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)

    // Ranking agreement, not value agreement: rank values decay toward
    // the fixed point at ~0.85^k per round, so a converged run's
    // 6-decimal values differ from the 10-round oracle's by
    // construction; the production claim is that the node ORDER froze.
    def ranking(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // Warm both paths once (JIT + the shared nodes/edges pins), then
    // measure one pass each.
    Harness.runFull(spark, "g1_pagerank", scratch)
    val t0 = System.nanoTime()
    Harness.runFull(spark, "g1_pagerank", scratch)
    val fixedSec = (System.nanoTime() - t0) / 1e9
    val fixedRows = ranking(SparkEntry.queries("g1_pagerank")(spark, scratch))
    // Two RELATIVE tolerances: the loose one is the "stable ranking"
    // regime (where the early exit saves rounds), the tight one the
    // "stable values" regime (where it legitimately costs more rounds
    // than the fixed-10 oracle mode — the ~d^k decay is the physics).
    val levels = Seq(eps, eps * 1e-2)
    val measured = levels.map { e =>
      operators.Graph.pagerankConverged(spark, scratch, e) match {
        case (df, _) => Harness.drain(df) // warm this eps level
      }
      val t1 = System.nanoTime()
      val (convHead, iters) =
        operators.Graph.pagerankConverged(spark, scratch, e)
      Harness.drain(convHead)
      val convSec = (System.nanoTime() - t1) / 1e9
      val agree = ranking(
        operators.Graph.pagerankConverged(spark, scratch, e)._1) == fixedRows
      println(f"[pr_converge] eps=$e%.1e iters=$iters wall=$convSec%.2f " +
        f"ranking_agrees=$agree (fixed 10 rounds, $fixedSec%.2f)")
      (e, iters, convSec, agree)
    }
    val lvlJson = measured.map { case (e, it, sec, agree) =>
      Harness.obj(Seq("eps_rel" -> e.toString, "iters" -> it.toString,
        "sec" -> Harness.num(sec), "ranking_agrees" -> agree.toString))
    }.mkString("[", ",", "]")
    Harness.emit(s"pagerank_converge_${factor}x.json", Harness.obj(Seq(
      "metric" -> Harness.str("pagerank_converge"),
      "factor" -> factor.toString, "fixed_iters" -> "10",
      "fixed_sec" -> Harness.num(fixedSec), "levels" -> lvlJson,
      "sf" -> Harness.str(src))))
    spark.stop()
  }
}
