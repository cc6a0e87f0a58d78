package graft

/** Planted-skew gate for the graph family: the degree-bound arguments in
  * [[operators.Graph]] ("jaccard's C(deg,2) fan-out is degree-bounded",
  * "triangles' orientation tames hubs") were arguments, not tests. This
  * gate MEASURES them: it plants, into the 10× warehouse,
  *
  *  - one customer buying from 30% of ALL suppliers (purchase-graph hub
  *    of degree ~3000 where the natural max is ~100 — its C(deg,2)
  *    ≈ 4.5M supplier pairs land on ONE g4 self-join key), and
  *  - one part appearing on 30% of ALL orders inside g2's 1995 cohort
  *    (a co-purchase node of near-maximal degree, the shape the
  *    degree-ordered Schank–Wagner orientation exists to tame),
  *
  * then times every graph query on the plain 10× warehouse and the
  * hub-planted one (warm pass + measured pass each, same protocol as
  * [[GrowthGate]]). A query is flagged when the hub inflates its wall
  * beyond [[Bound]]× — one planted node may add its own output (the hub
  * pairs are REAL pairs) but must not straggle the stage.
  *
  * Usage: runMain graft.HubGate [factor] [srcSfDir] [scratchDir]
  * Artifact: hub_gate.json (per-query plain/hub walls + inflation).
  */
object HubGate {
  /** Inflation bound: the hub adds ≲10% genuine output to g4 and ≲1
    * edge per targeted order to g2, so anything beyond 3× wall is a
    * straggler, not work.
    */
  val Bound = 3.0

  /** Extreme-hub probe degrees (see `main`): the chunk-pair generator
    * runs at [[GenDegree]], the full g4 query at [[FullDegree]].
    */
  val GenDegree = 1000000L
  val FullDegree = 30000L

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val hubDir = scratch + "_hub"
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)
    ScaleData.writeHubWarehouse(spark, scratch, hubDir)

    // Measure the planted CUSTOMER-side hub the way g4 sees it — via
    // the SAME incidence construction the operator and the growth
    // gate's work metric share (Graph.customerDegreeStats, reading
    // through Tables' schema contract): its max degree and the
    // C(deg, 2) pair contribution that all lands on one customer.
    // Recorded in the artifact so the gate names the hazard it planted
    // (g4's chunked generator spreads those pairs across ⌈deg/chunk⌉²/2
    // tasks; the pre-r13 self-join form put them on ONE join key).
    val (hubDeg, _) = operators.Graph.customerDegreeStats(spark, hubDir)
    val hubPairs = hubDeg * (hubDeg - 1) / 2
    println(s"[hub] planted customer hub: degree=$hubDeg " +
      s"pair_contrib=$hubPairs")

    val names = Seq("g1_pagerank", "g2_triangles", "g3_reach", "g4_jaccard")
    val rows = names.map { name =>
      val plain = Harness.warmTimed(spark, name, scratch)
      val hub = Harness.warmTimed(spark, name, hubDir)
      val inflation = hub / math.max(plain, 0.05)
      println(f"[hub] $name%-16s plain=$plain%7.2f hub=$hub%7.2f " +
        f"inflation=$inflation%5.2f")
      (name, plain, hub, inflation)
    }
    def fmt(v: Double) = Harness.num(v)

    // ---------------------------------------------- extreme-hub probe
    // The planted warehouse hub (~degree 3000) bounds g4's inflation on
    // realistic skew; this section probes ADVERSARIAL degrees. Two
    // measurements, because the two hazards are different:
    //
    //  1. GENERATION at degree 10⁶ — the stage the pre-r14 build could
    //     not survive (one O(D) collect_list row, then ~7.6M 4 KB
    //     chunk-pair structs materialized inside ONE task's expression
    //     evaluation). The probe drives the segmented generator through
    //     its repartition (every shuffle the stage owns) and records
    //     the per-partition row distribution — straggler-free means
    //     max/mean stays near 1. The downstream C(10⁶, 2) ≈ 5·10¹¹
    //     explode is NOT run: those pairs are the query's own OUTPUT
    //     contract (each is a real result row), a volume no plan can
    //     dodge — the gate's job is proving the PLAN adds no
    //     concentration on top of it.
    //  2. FULL QUERY at degree 30 000 (10× the warehouse hub; C(D,2)
    //     ≈ 4.5·10⁸ pairs) — end-to-end completion with wall recorded
    //     against the measured pair volume.
    val genDir = s"${scratch}_xdeg$GenDegree"
    val fullDir = s"${scratch}_xdeg$FullDegree"
    ScaleData.writeExtremeHubWarehouse(spark, src, genDir, GenDegree)
    ScaleData.writeExtremeHubWarehouse(spark, src, fullDir, FullDegree)
    val genT0 = System.nanoTime()
    val partCounts = operators.Graph.jaccardChunkPairsFor(spark, genDir)
      .queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator(n)
      }.collect()
    val genWall = (System.nanoTime() - genT0) / 1e9
    val genRows = partCounts.sum
    val genBalance =
      if (genRows == 0) 1.0
      else partCounts.max.toDouble /
        math.max(genRows.toDouble / partCounts.length, 1.0)
    println(f"[hub] extreme gen deg=$GenDegree rows=$genRows " +
      f"wall=$genWall%.2f max/mean=$genBalance%.2f")
    val (fullMaxDeg, fullPairs) =
      operators.Graph.customerDegreeStats(spark, fullDir)
    val fullT0 = System.nanoTime()
    Harness.runFull(spark, "g4_jaccard", fullDir)
    val fullWall = (System.nanoTime() - fullT0) / 1e9
    println(f"[hub] extreme full deg=$fullMaxDeg pairs=$fullPairs%.0f " +
      f"wall=$fullWall%.2f")

    val flags = rows.collect { case (n, _, _, inf) if inf > Bound => n } ++
      (if (genBalance > 5.0) Seq("extreme_gen_straggler") else Nil)
    val qJson = Harness.obj(rows.map { case (n, p, h, inf) =>
      n -> Harness.nums(Seq("plain" -> p, "hub" -> h, "inflation" -> inf))
    })
    val extremeJson = Harness.obj(Seq(
      "gen_degree" -> GenDegree.toString,
      "gen_chunk_pair_rows" -> genRows.toString,
      "gen_wall_sec" -> fmt(genWall),
      "gen_partition_max_over_mean" -> fmt(genBalance),
      "full_degree" -> fullMaxDeg.toString,
      "full_pair_volume" -> fmt(fullPairs), "full_wall_sec" -> fmt(fullWall)))
    Harness.emit("hub_gate.json", Harness.obj(Seq(
      "metric" -> Harness.str("hub_gate"), "factor" -> factor.toString,
      "bound" -> Bound.toString,
      "hub_supplier_frac" -> "0.3", "hot_part_order_frac" -> "0.3",
      "hub_customer_degree" -> hubDeg.toString,
      "hub_customer_pair_contrib" -> hubPairs.toString,
      "flags" -> Harness.arr(flags), "extreme" -> extremeJson,
      "queries" -> qJson, "sf" -> Harness.str(src))))
    spark.stop()
  }
}
