package graft

import org.apache.spark.sql.SparkSession

/** Inventory-wide scale gate: times EVERY declared query at 1× and at a
  * replicated `factor`× warehouse ([[ScaleData.writeScaledWarehouse]])
  * and reports the per-query growth factor — the super-linear-plan
  * detector the plan-hygiene specs cannot be (a plan can be
  * shuffle-clean and broadcast-correct and still hide accidental
  * re-evaluation, skew, or a quadratic candidate set that only shows up
  * as wall-clock growth). It runs the FULL inventory, so a creeper in
  * any query surfaces before it matters at 100 TB.
  *
  * Protocol: per query, one warm pass + one measured pass at each
  * scale, in sorted name order (warm pass populates JIT, codegen
  * caches, and the per-dir pinned signature/centroid tables — a cold
  * 10× first run would charge one-time pin population to the growth
  * number). A query is flagged when growth exceeds [[DefaultBound]]
  * (n·log n on 10× data is ~11.7×, plus scheduling overhead) AND its
  * 10× time is material (> [[MaterialSec]] — a 0.1s→1.5s query is
  * fixed-overhead noise, not a scale signal), unless the query's
  * registry [[growth]] rule is an [[Exempt]] that raises its bound with
  * a reason (algorithms whose work is super-linear BY SPEC, e.g. exact
  * all-pairs similarity) or a [[WorkGated]] that replaces the wall
  * comparison with an exact, variance-free work metric (wall kept only
  * as a loose backstop).
  *
  * Usage: runMain graft.GrowthGate [factor] [srcSfDir] [scratchDir]
  *   [query ...]  (exact registry names; none → every query)
  * Artifact: growth_gate.json (full per-query map + flags); progress
  * lines stream per query so a long run is observable.
  */
object GrowthGate {
  val DefaultBound = 12.0
  val MaterialSec = 3.0

  /** The registry's growth rules by query name. An [[Exempt]] query's
    * cost model is super-linear by SPEC (exact all-pairs similarity, CV
    * training): at another factor f its bound scales as
    * bound₁₀ · (f/10)^(exponent−1) ON TOP of the gate's linear (f/10)
    * scaling — i.e. a quadratic-spec exemption (exponent 2) scales its
    * bound by (f/10)², because a healthy by-spec quadratic lands at
    * ~f²/100 × its 10× wall, and linear scaling alone would flag it at
    * any f > 10.
    *
    * A [[WorkGated]] query is gated on a MEASURED WORK METRIC instead of
    * raw wall time. g4_jaccard's r12 story motivated this: its
    * candidate-pair volume is exactly linear (12,544,866 → 125,448,660
    * = 10.0× at 10×, DuckDB-verified, variance-free) while the pair
    * STAGE's wall swung 11–69s run-to-run under shared-box shuffle/GC
    * pressure — a wall bound loose enough to absorb that variance (25×)
    * would also pass a genuine quadratic. Two checks per entry, both
    * deterministic in what they compare against:
    *
    *  1. WORK CONTRACT — the metric's own growth must stay within
    *     `workSlack` × factor (the operator's documented cost model is
    *     ~linear in the data; a quadratic candidate set shows up here
    *     as ~factor², unmissably, regardless of scheduler noise).
    *     `workSlack` absorbs how the SCALED CORPUS legitimately
    *     inflates per-item work: dd_edit_distance's DP is quadratic in
    *     document LENGTH and the 10× generator suffixes every token
    *     (+~33% chars → ~1.78× per-pair DP cost — measured wall 14.5×
    *     at 10× is the corpus, not the plan).
    *  2. WALL TRACKS WORK — wall growth beyond `wallSlack` × the
    *     measured work growth flags a plan regression the metric
    *     cannot see (re-evaluated generators, lost broadcast, a
    *     straggler key).
    */
  lazy val growth: Map[String, Growth] =
    SparkEntry.specs.flatMap(q => q.growth.map(q.name -> _)).toMap
  private[graft] def workGated(name: String): Option[WorkGated] =
    growth.get(name).collect { case w: WorkGated => w }
  private def exemptBound(factor: Int, b: Double, exp: Double): Double =
    b * factor / 10.0 * math.pow(factor / 10.0, exp - 1.0)

  /** The gate's entire per-query flag policy, as a pure function (the
    * BenchGate precedent: decision logic spec-testable without Spark or
    * a scaled warehouse).
    *
    * Wall bounds are CALIBRATED AT 10× (n·log n on 10× data ≈ 11.7×
    * plus overhead); at another factor f they scale by (f/10), and an
    * exemption with cost-model exponent e scales by (f/10)^e — a
    * healthy by-spec quadratic lands at ~(f/10)² × its 10× wall, so a
    * linearly-scaled bound would flag it at any f > 10. Work-gated
    * queries ignore the wall bound entirely: the metric's own growth
    * must stay within workSlack·factor (the cost-model contract), and
    * the wall must stay within wallSlack × the measured work growth.
    */
  private[graft] def flagged(factor: Int, name: String, t1: Double,
      tN: Double, work: Option[(Double, Double)]): Boolean = {
    if (t1 <= 0) return false
    def scaled(b: Double): Double = b * factor / 10.0
    growth.get(name) match {
      case Some(WorkGated(workSlack, wallSlack, _, _)) =>
        val wg = work.map { case (w1, wN) => wN / math.max(w1, 1.0) }
        wg.exists(_ > factor * workSlack) ||
          (wg.exists(g => tN / math.max(t1, 0.05) >
            wallSlack * math.max(g, 1.0)) && tN > MaterialSec)
      case exempt =>
        val bound = exempt match {
          case Some(Exempt(b, exp, _)) => exemptBound(factor, b, exp)
          case _ => scaled(DefaultBound)
        }
        tN / math.max(t1, 0.05) > bound && tN > MaterialSec
    }
  }

  /** Per-query walls at 1× and `factor`×, their growth, and the work
    * pair where one was measured — the `queries` map of the growth and
    * skew gates' artifacts.
    */
  private[graft] def queriesJson(factor: Int,
      rows: Seq[(String, Double, Double, String)],
      work: scala.collection.Map[String, (Double, Double)]): String =
    Harness.obj(rows.map { case (n, t1, tN, _) =>
      n -> Harness.nums(Seq("t1" -> t1, s"t$factor" -> tN,
        "growth" -> (if (t1 > 0) tN / math.max(t1, 0.05) else -1.0)) ++
        work.get(n).toSeq.flatMap { case (w1, wN) =>
          Seq("work1" -> w1, s"work$factor" -> wN,
            "work_growth" -> wN / math.max(w1, 1.0))
        })
    })

  /** One query's growth measurement: [[Harness.warmTimed]] at `dir1` and
    * at `dirN`, plus the (1×, factor×) work pair when the query is
    * [[WorkGated]] — measured once, not per timing pass: the metric is
    * deterministic. A failure becomes the row's error, with walls -1.
    * Prints a `[tag]` progress line so a long run is observable.
    * Returns (name, t1, tN, err) and the work pair.
    */
  private[graft] def measure(spark: SparkSession, tag: String, factor: Int,
      name: String, dir1: String, dirN: String)
      : ((String, Double, Double, String), Option[(Double, Double)]) = {
    val (r, work) = try {
      val t1 = Harness.warmTimed(spark, name, dir1)
      val tN = Harness.warmTimed(spark, name, dirN)
      val w = workGated(name).map(w => (w.metric(spark, dir1),
        w.metric(spark, dirN)))
      ((name, t1, tN, ""), w)
    } catch {
      case e: Throwable => ((name, -1.0, -1.0, errLine(name, e)), None)
    }
    val g = if (r._2 > 0) r._3 / r._2 else -1.0
    println(f"[$tag] $name%-28s t1=${r._2}%7.2f t$factor=" +
      f"${r._3}%8.2f growth=$g%6.1f ${r._4}" +
      work.map { case (w1, wN) =>
        f" work=${w1}%.0f->${wN}%.0f (${wN / math.max(w1, 1)}%4.1fx)"
      }.getOrElse(""))
    (r, work)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val only = args.drop(3).toSeq
    val names = Harness.select(only)
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)

    val measured =
      names.map(measure(spark, "growth", factor, _, src, scratch))
    // name, t1, tN, err — mutable: a remeasured row is replaced below
    val rows = scala.collection.mutable.ArrayBuffer.from(measured.map(_._1))
    // name -> (work1, workN) for the work-gated queries
    val work = measured.collect { case ((n, _, _, _), Some(w)) => n -> w }
      .toMap
    def fmt(v: Double) = Harness.num(v)
    def flagsOf(rs: Seq[(String, Double, Double, String)]): Seq[String] =
      rs.collect {
        case (n, t1, tN, "")
          if flagged(factor, n, t1, tN, work.get(n)) => n
      }
    // Self-defense (the bench floor-defense idea applied to growth): a
    // wall-flagged query gets ONE fresh (t1, tN) pair, and the verdict
    // ratio is min(tN)/min(t1) ACROSS both pairs — noise only inflates
    // a timing, so the per-scale minima are the honest estimates of
    // both numerator and denominator. (Keeping the whole smaller-ratio
    // PAIR, as this loop first did, let one inflated t1 denominator
    // deflate the kept growth and mask a borderline super-linear plan.)
    // A REAL super-linear plan reproduces its ratio in both pairs.
    // Work-CONTRACT flags are never re-measured: the metric is
    // deterministic, so its verdict is already evidence.
    val remeasured = flagsOf(rows.toSeq).filter(n =>
      workGated(n).forall { w =>
        work.get(n).forall { case (w1, wN) =>
          wN / math.max(w1, 1.0) <= factor * w.workSlack } })
    remeasured.foreach { name =>
      try {
        val t1b = Harness.warmTimed(spark, name, src)
        val tNb = Harness.warmTimed(spark, name, scratch)
        val i = rows.indexWhere(_._1 == name)
        val (_, t1a, tNa, _) = rows(i)
        rows(i) = (name, math.min(t1a, t1b), math.min(tNa, tNb), "")
        println(f"[growth] $name%-28s REMEASURED t1=$t1b%7.2f " +
          f"t$factor=$tNb%8.2f kept=${
            math.min(tNa, tNb) / math.max(math.min(t1a, t1b), 0.05)}%6.1f")
      } catch { case e: Throwable =>
        println(s"[growth] $name remeasure failed: ${errLine(name, e)}")
      }
    }
    val flags = flagsOf(rows.toSeq)
    val failed = rows.collect { case (n, _, _, e) if e.nonEmpty => n }
    val exJson = Harness.obj(growth.toSeq.sortBy(_._1).collect {
      case (n, Exempt(b, exp, why)) =>
        n -> Harness.obj(Seq("bound" -> fmt(exemptBound(factor, b, exp)),
          "cost_exponent" -> fmt(exp), "why" -> Harness.str(why)))
    })
    val wgJson = Harness.obj(growth.toSeq.sortBy(_._1).collect {
      case (n, WorkGated(workSlack, wallSlack, _, why)) =>
        n -> Harness.obj(Seq("work_bound" -> fmt(factor * workSlack),
          "wall_tracks_work_slack" -> fmt(wallSlack),
          "why" -> Harness.str(why)))
    })
    def arr(xs: Seq[String]) = Harness.arr(xs.sorted)
    val line = Harness.obj(Seq(
      "metric" -> Harness.str("growth_gate"), "factor" -> factor.toString,
      "n" -> rows.size.toString, "bound" -> fmt(factor * DefaultBound / 10),
      "material_sec" -> MaterialSec.toString,
      "flags" -> arr(flags), "failed" -> arr(failed.toSeq),
      "remeasured" -> arr(remeasured),
      "exemptions" -> exJson, "work_gated" -> wgJson,
      "only" -> arr(only.distinct),
      "queries" -> queriesJson(factor, rows.toSeq, work),
      "sf" -> Harness.str(src)))
    // Subset (dev) runs write a side file — overwriting the full-run
    // artifact with a partial map would destroy the committed gate.
    // This applies at EVERY factor: the 30×/100× heavy-family gates
    // are standing committed artifacts too, and a one-query dev probe
    // at factor 30 must not silently replace them. The intended
    // heavy-family coverage for those gates is launched as one run
    // with the family list in `only`, via GRAFT_GROWTH_FULL=1.
    val subsetSuffix =
      if (only.isEmpty || sys.env.contains("GRAFT_GROWTH_FULL")) ""
      else "_subset"
    val artifact =
      if (factor != 10) s"growth_gate_${factor}x$subsetSuffix.json"
      // Factor 10's standing artifact is the FULL inventory — no
      // env-var override: a subset can never claim growth_gate.json.
      else if (only.isEmpty) "growth_gate.json"
      else "growth_gate_subset.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    println(Harness.obj(Seq(
      "metric" -> Harness.str("growth_gate"), "factor" -> factor.toString,
      "n" -> rows.size.toString, "flags" -> arr(flags),
      "failed" -> arr(failed.toSeq), "detail" -> Harness.str(artifact))))
    spark.stop()
  }
}
