package graft

/** Realistic-skew scale gate: the growth gates measure clone-grown data
  * whose key frequencies stay uniform-ish, and [[HubGate]] plants ONE
  * adversarial node; this gate times the order-reading heavy queries on
  * a Zipf(α = 1.2)-keyed variant ([[ScaleData.writeZipfWarehouse]]) of
  * BOTH scales and reports growth — a plan that is linear on uniform
  * keys but straggles on a heavy-tailed key distribution (a lost salt,
  * a per-key buffer that rides the popular key) shows up here and
  * nowhere else. The flag policy is [[GrowthGate.flagged]] verbatim —
  * same bounds, same work-metric contract for g4 (whose pair volume on
  * skewed keys is legitimately superlinear in data growth: Σ C(deg, 2)
  * grows ~growth² on the popular customers — exactly what the
  * work-gated wall-tracks-work rule prices correctly and a naive wall
  * bound would misread).
  *
  * Usage: runMain graft.SkewGate [factor] [srcSfDir] [scratchDir]
  * Artifact: growth_gate_skew.json
  */
object SkewGate {
  /** Order-reading heavies: the queries whose shuffle keys the Zipf
    * remap actually skews (document/embedding families read tables the
    * variant leaves untouched).
    */
  val Names = Seq("g1_pagerank", "g2_triangles", "g3_reach", "g4_jaccard",
    "g4_jaccard_capped",
    "sql_grid_mixed", "a7_two_level", "o2_topk_recent", "j1_broadcast_join")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val alpha = 1.2
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)
    val z1 = s"${scratch}_zipf1"
    val zN = s"${scratch}_zipf$factor"
    ScaleData.writeZipfWarehouse(spark, src, z1, alpha)
    ScaleData.writeZipfWarehouse(spark, scratch, zN, alpha)
    val (maxDeg1, _) = operators.Graph.customerDegreeStats(spark, z1)
    val (maxDegN, pairVolN) = operators.Graph.customerDegreeStats(spark, zN)
    println(s"[skew] zipf alpha=$alpha max_customer_degree " +
      s"1x=$maxDeg1 ${factor}x=$maxDegN pair_volume_${factor}x=$pairVolN")

    val measured =
      Names.map(GrowthGate.measure(spark, "skew", factor, _, z1, zN))
    val rows = measured.map(_._1)
    val work = measured.collect { case ((n, _, _, _), Some(w)) => n -> w }
      .toMap
    // Curation-mode accuracy on the SKEWED corpus — the number that
    // justifies g4_jaccard_capped's existence: top-k overlap between
    // the capped variant and exact g4 on the Zipf warehouses (both
    // orders are deterministic; sets compared as unordered id pairs).
    // Measured at BOTH scales: z1 is cheap, and the factor-N point
    // shows the overlap the cap actually trades under the full tail.
    def topPairs(name: String, dir: String): Set[(String, String)] =
      SparkEntry.queries(name)(spark, dir)
        .select("s1", "s2").collect()
        .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    def cappedRecall(dir: String): Double = {
      val exact = topPairs("g4_jaccard", dir)
      val capped = topPairs("g4_jaccard_capped", dir)
      if (exact.isEmpty) 1.0
      else exact.intersect(capped).size.toDouble / exact.size
    }
    val (recall1, recallN) = (cappedRecall(z1), cappedRecall(zN))
    println(f"[skew] g4_jaccard_capped top-k recall vs exact: " +
      f"z1=$recall1%.3f z$factor=$recallN%.3f")

    // Skew-specific flag policy: for work-gated queries the WORK
    // CONTRACT check is dropped — on Zipf keys the candidate volume is
    // legitimately superlinear in data growth (the popular customers'
    // degrees grow with the data, so Σ C(deg, 2) grows ~factor² by the
    // operator's own semantics), and flagging the semantics would be a
    // false positive. What skew can break is the PLAN: wall growth
    // beyond wallSlack × the measured work growth (a straggling key the
    // chunking failed to spread) — that check stays. Non-work-gated
    // queries keep the full GrowthGate policy.
    def skewFlagged(n: String, t1: Double, tN: Double): Boolean =
      GrowthGate.workGated(n) match {
        case Some(WorkGated(_, wallSlack, _, _)) =>
          work.get(n).exists { case (w1, wN) =>
            tN / math.max(t1, 0.05) >
              wallSlack * math.max(wN / math.max(w1, 1.0), 1.0) &&
              tN > GrowthGate.MaterialSec
          }
        case None => GrowthGate.flagged(factor, n, t1, tN, None)
      }
    val flags = rows.collect {
      case (n, t1, tN, "") if skewFlagged(n, t1, tN) => n
    }
    val failed = rows.collect { case (n, _, _, e) if e.nonEmpty => n }
    Harness.emit("growth_gate_skew.json", Harness.obj(Seq(
      "metric" -> Harness.str("growth_gate_skew"),
      "factor" -> factor.toString, "alpha" -> alpha.toString,
      "n" -> rows.size.toString,
      "max_customer_degree_1x" -> maxDeg1.toString,
      s"max_customer_degree_${factor}x" -> maxDegN.toString,
      "capped_recall" -> Harness.nums(Seq("z1" -> recall1,
        s"z$factor" -> recallN)),
      "flags" -> Harness.arr(flags.sorted),
      "failed" -> Harness.arr(failed.sorted),
      "queries" -> GrowthGate.queriesJson(factor, rows, work),
      "sf" -> Harness.str(src))))
    spark.stop()
  }
}
