package graft

import org.apache.spark.sql.SparkSession

/** The scale gates. Each gate is one [[Gates.Gate]] record, and this
  * main runs any of them with one measure loop, one re-measure rule and
  * one artifact schema:
  *
  *  - '''growth''': every registry query at 1× and at a replicated
  *    `factor`× warehouse ([[ScaleData.writeScaledWarehouse]]). The
  *    super-linear-plan detector the plan-hygiene specs cannot be: a
  *    plan can be shuffle-clean and still hide re-evaluation or a
  *    quadratic candidate set that only shows as growth.
  *  - '''skew''': the order-reading heavies on Zipf(α = 1.2)-keyed
  *    variants of both scales ([[ScaleData.writeZipfWarehouse]]).
  *  - '''hub''': the graph family on the scaled warehouse against the
  *    same warehouse with a planted hub customer and hot part
  *    ([[ScaleData.writeHubWarehouse]]), plus the extreme-hub probe.
  *  - '''stream''': [[streaming.StreamingDedup.firstSeen]] replayed in
  *    [[Batches]] micro-batches at both scales.
  *
  * Protocol: each item is measured as one (a, b) pair on the record's
  * two data dirs — for a registry query, one warm pass and one timed
  * pass on each ([[Harness.warmTimed]]) — and a [[WorkGated]] query
  * whose rule reads work also gets its deterministic work pair, measured
  * once. A flagged item whose flag depends on the walls gets ONE fresh
  * pair, and the verdict uses the per-scale minima: noise only inflates
  * a timing, so the minima are the honest estimates of both sides, and a
  * real super-linear plan reproduces its ratio in both pairs.
  *
  * Usage: runMain graft.Gates <growth|skew|hub|stream> <factor> <srcSfDir>
  *   [scratchDir] [item ...]  (scratch defaults to target/gates_x<factor>;
  *   no items → all of the gate's)
  * Artifact: gate_<name>_<factor>x.json — `{gate, factor, sf, cpus,
  * dirs:{a,b}, flags, failed, remeasured, only, rows:{item:{a, b, ratio,
  * work_a?, work_b?, work_ratio?}}, extra}`. A run always writes its
  * file; only a committed file is a claim, and `GatesSpec` re-applies
  * each committed file's rule in Tier-1.
  */
object Gates {

  /** One item's measured pair, its ratio under the gate's rule, and the
    * (a, b) work pair of a [[WorkGated]] query.
    */
  final case class Row(a: Double, b: Double, ratio: Double,
      work: Option[(Double, Double)] = None) {
    def workRatio: Option[Double] =
      work.map { case (wa, wb) => wb / math.max(wa, 1.0) }
  }

  /** The scale point a run measures: `scaled` is `src` grown by the
    * run's factor.
    */
  final case class Scale(src: String, scaled: String)

  /** One gate.
    *
    * @param dirs    writes any derived warehouse and returns the two dirs
    *                every item is measured on
    * @param items   the gate's items at a factor
    * @param measure a pass's measurer, made once per pass: one (a, b)
    *                pair for an item
    * @param ratio   an item's ratio from its pair
    * @param flag    the bound, over (factor, item, row)
    * @param extra   numbers recorded beside the rows
    * @param extraFlags the bound over `extra`, if it has one
    */
  final case class Gate(name: String,
      dirs: (SparkSession, Scale) => (String, String),
      items: Int => Seq[String],
      flag: (Int, String, Row) => Boolean,
      measure: SparkSession => (String, String, String) => (Double, Double) =
        s => (n, a, b) =>
          (Harness.warmTimed(s, n, a), Harness.warmTimed(s, n, b)),
      ratio: (Double, Double) => Double = growthRatio,
      extra: (SparkSession, Scale, String, String) => Seq[(String, Double)] =
        (_, _, _, _) => Nil,
      extraFlags: Map[String, Double] => Seq[String] = _ => Nil) {
    def row(a: Double, b: Double, work: Option[(Double, Double)]): Row =
      Row(a, b, ratio(a, b), work)

    /** Whether the rule reads an item's work pair: a rule that does
      * judges one of these rows differently once the pair is dropped
      * (a work growth far past any contract, or walls far past their
      * work).
      */
    def readsWork(factor: Int, item: String): Boolean =
      Seq(Row(1.0, 1.0, 1.0, Some((1.0, 1e12))),
          Row(1.0, 1e6, 1e6, Some((1.0, 1.0))))
        .exists(r => flag(factor, item, r) != flag(factor, item,
          r.copy(work = None)))
  }

  /** Wall growth with a 0.05 s denominator floor; -1 for a failed pair. */
  def growthRatio(a: Double, b: Double): Double =
    if (a > 0) b / math.max(a, 0.05) else -1.0

  // ----------------------------------------------------------- growth

  /** Growth at 10× a linear plan may show (n·log n on 10× data ≈ 11.7×,
    * plus scheduling overhead); at factor f it scales by f/10.
    */
  val DefaultBound = 12.0

  /** A `b` wall at or under this is fixed-overhead noise, not a scale
    * signal (0.1 s → 1.5 s never flags).
    */
  val MaterialSec = 3.0

  /** The registry's growth rules by query name.
    *
    * An [[Exempt]] query's cost model is super-linear by spec (exact
    * all-pairs similarity, CV training): at factor f its bound is
    * bound₁₀ · (f/10) · (f/10)^(exponent−1), because a healthy by-spec
    * quadratic lands at ~(f/10)² × its 10× wall.
    *
    * A [[WorkGated]] query is judged on a measured, variance-free work
    * metric instead of raw wall time (g4_jaccard's pair stage swung
    * 11–69 s run to run while its candidate volume grew exactly 10.0×).
    * Two checks:
    *  1. work contract: the metric's growth stays within `workSlack` ×
    *     factor, so a quadratic candidate set shows as ~factor²;
    *  2. wall tracks work: wall growth beyond `wallSlack` × the measured
    *     work growth is a plan regression the metric cannot see.
    */
  lazy val growth: Map[String, Growth] =
    SparkEntry.specs.flatMap(q => q.growth.map(q.name -> _)).toMap

  private def exemptBound(factor: Int, b: Double, exp: Double): Double =
    b * factor / 10.0 * math.pow(factor / 10.0, exp - 1.0)

  private def wallOverWork(w: WorkGated, r: Row): Boolean =
    r.workRatio.exists(g => r.ratio > w.wallSlack * math.max(g, 1.0)) &&
      r.b > MaterialSec

  /** The growth gate's rule. */
  def growthFlagged(factor: Int, name: String, r: Row): Boolean =
    r.a > 0 && (growth.get(name) match {
      case Some(w: WorkGated) =>
        r.workRatio.exists(_ > factor * w.workSlack) || wallOverWork(w, r)
      case rule =>
        val bound = rule match {
          case Some(Exempt(b, exp, _)) => exemptBound(factor, b, exp)
          case _ => DefaultBound * factor / 10.0
        }
        r.ratio > bound && r.b > MaterialSec
    })

  // ------------------------------------------------------------- skew

  /** The order-reading heavies: the queries whose shuffle keys the Zipf
    * remap actually skews.
    */
  val SkewItems = Seq("g1_pagerank", "g2_triangles", "g3_reach",
    "g4_jaccard", "g4_jaccard_capped", "sql_grid_mixed", "a7_two_level",
    "o2_topk_recent", "j1_broadcast_join")
  val ZipfAlpha = 1.2

  /** The skew gate's rule: [[growthFlagged]], except that a work-gated
    * query keeps only the wall-tracks-work check. On Zipf keys the
    * popular customers' degrees grow with the data, so Σ C(deg, 2) grows
    * ~factor² by the operator's own semantics (g4's work grew 96× at 10×);
    * what skew can break is the plan — a straggling key the chunking
    * failed to spread.
    */
  def skewFlagged(factor: Int, name: String, r: Row): Boolean =
    growth.get(name) match {
      case Some(w: WorkGated) => r.a > 0 && wallOverWork(w, r)
      case _ => growthFlagged(factor, name, r.copy(work = None))
    }

  // -------------------------------------------------------------- hub

  /** Hub and stream bound on an item's ratio. The planted hub adds
    * ≲10% genuine output to g4 and ≲1 edge per targeted order to g2, so
    * wall inflation beyond 3× is a straggler, not work; a stream's
    * per-doc cost and batch-wall slope must stay flat likewise.
    */
  val Bound = 3.0

  /** Extreme-hub probe degrees: the chunk-pair generator runs at
    * [[GenDegree]], the full g4 query at [[FullDegree]].
    */
  val GenDegree = 1000000L
  val FullDegree = 30000L

  /** A generator partition above this × the mean is a straggler. */
  val GenBalanceBound = 5.0

  /** The planted hub's size as g4 sees it, and the extreme-hub probe.
    *
    * The probe covers adversarial degrees in two measurements:
    *  1. generation at degree 10⁶ — the segmented chunk-pair generator
    *     driven through its repartition, recording the per-partition row
    *     balance (max/mean near 1 is straggler-free). The downstream
    *     C(10⁶, 2) explode is not run: those pairs are the query's own
    *     output contract, a volume no plan can dodge;
    *  2. the full g4 query at degree 30 000 (C(D, 2) ≈ 4.5·10⁸ pairs),
    *     its wall recorded against the measured pair volume.
    */
  private def hubExtra(spark: SparkSession, sc: Scale, hubDir: String)
      : Seq[(String, Double)] = {
    val (hubDeg, _) = operators.Graph.customerDegreeStats(spark, hubDir)
    val genDir = s"${sc.scaled}_xdeg$GenDegree"
    val fullDir = s"${sc.scaled}_xdeg$FullDegree"
    ScaleData.writeExtremeHubWarehouse(spark, sc.src, genDir, GenDegree)
    ScaleData.writeExtremeHubWarehouse(spark, sc.src, fullDir, FullDegree)
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
    val (fullDeg, fullPairs) =
      operators.Graph.customerDegreeStats(spark, fullDir)
    val fullT0 = System.nanoTime()
    Harness.runFull(spark, "g4_jaccard", fullDir)
    val fullWall = (System.nanoTime() - fullT0) / 1e9
    Seq("hub_supplier_frac" -> 0.3, "hot_part_order_frac" -> 0.3,
      "hub_customer_degree" -> hubDeg.toDouble,
      "hub_customer_pair_contrib" -> hubDeg * (hubDeg - 1) / 2.0,
      "gen_degree" -> GenDegree.toDouble,
      "gen_chunk_pair_rows" -> genRows.toDouble,
      "gen_wall_sec" -> genWall,
      "gen_partition_max_over_mean" -> genBalance,
      "full_degree" -> fullDeg.toDouble, "full_pair_volume" -> fullPairs,
      "full_wall_sec" -> fullWall)
  }

  // ----------------------------------------------------------- stream

  /** Micro-batches per replay, and the floor every batch wall is clamped
    * to before a slope, so scheduler noise on near-empty batches cannot
    * flag.
    */
  val Batches = 10
  val FloorSec = 0.25

  /** Feed the dir's documents through firstSeen in [[Batches]] equal
    * micro-batches, once to warm and once measured; returns the doc
    * count and the measured batch walls.
    */
  private def replay(spark: SparkSession, dir: String): (Int, Seq[Double]) = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      .as[streaming.StreamingDedup.Doc].collect()
    // Ceil division keeps every batch within 1 doc of equal size, so the
    // last/first slope compares equal batches.
    val chunk = math.max(1, (docs.length + Batches - 1) / Batches)
    def once(): Seq[Double] = {
      val mem = MemoryStream[streaming.StreamingDedup.Doc]
      val q = streaming.StreamingDedup.firstSeen(mem.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(s"gate_stream_${System.nanoTime()}").start()
      try docs.grouped(chunk).map { batch =>
        val t0 = System.nanoTime()
        mem.addData(batch.toSeq)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.toVector
      finally q.stop()
    }
    once()
    (docs.length, once())
  }

  /** A pass's stream measurer: each dir is replayed once per pass, and
    * every item reads that replay — per-doc seconds at a and at b, or
    * one replay's first and last batch walls, clamped at [[FloorSec]].
    */
  private def streamPass(spark: SparkSession)
      : (String, String, String) => (Double, Double) = {
    val replays =
      scala.collection.mutable.Map.empty[String, (Int, Seq[Double])]
    def walls(dir: String) = replays.getOrElseUpdate(dir, replay(spark, dir))
    def slope(dir: String) = {
      val w = walls(dir)._2
      (math.max(w.head, FloorSec), math.max(w.last, FloorSec))
    }
    def perDoc(dir: String) = {
      val (n, w) = walls(dir)
      w.sum / n
    }
    (item, a, b) => item match {
      case "per_doc_growth" => (perDoc(a), perDoc(b))
      case "slope_1x" => slope(a)
      case _ => slope(b)
    }
  }

  // ---------------------------------------------------------- records

  private def skewDegrees(spark: SparkSession, a: String, b: String) = {
    def recall(dir: String): Double = {
      def top(q: String) = SparkEntry.queries(q)(spark, dir)
        .select("s1", "s2").collect()
        .map(r => (r.get(0).toString, r.get(1).toString)).toSet
      val exact = top("g4_jaccard")
      if (exact.isEmpty) 1.0
      else exact.intersect(top("g4_jaccard_capped")).size.toDouble /
        exact.size
    }
    // The capped variant's top-k overlap with exact g4 on the skewed
    // corpus: the number that justifies g4_jaccard_capped.
    Seq("alpha" -> ZipfAlpha,
      "max_customer_degree_a" ->
        operators.Graph.customerDegreeStats(spark, a)._1.toDouble,
      "max_customer_degree_b" ->
        operators.Graph.customerDegreeStats(spark, b)._1.toDouble,
      "capped_recall_a" -> recall(a), "capped_recall_b" -> recall(b))
  }

  val records: Seq[Gate] = Seq(
    Gate("growth", (_, sc) => (sc.src, sc.scaled),
      _ => SparkEntry.queries.keys.toSeq.sorted, growthFlagged),
    Gate("skew", { (spark, sc) =>
        val (za, zb) = (s"${sc.scaled}_zipf_a", s"${sc.scaled}_zipf_b")
        ScaleData.writeZipfWarehouse(spark, sc.src, za, ZipfAlpha)
        ScaleData.writeZipfWarehouse(spark, sc.scaled, zb, ZipfAlpha)
        (za, zb)
      }, _ => SkewItems, skewFlagged,
      extra = (spark, _, a, b) => skewDegrees(spark, a, b)),
    Gate("hub", { (spark, sc) =>
        ScaleData.writeHubWarehouse(spark, sc.scaled, s"${sc.scaled}_hub")
        (sc.scaled, s"${sc.scaled}_hub")
      }, _ => Seq("g1_pagerank", "g2_triangles", "g3_reach", "g4_jaccard"),
      (_, _, r) => r.ratio > Bound,
      extra = (spark, sc, _, b) => hubExtra(spark, sc, b),
      extraFlags = x =>
        if (x.get("gen_partition_max_over_mean").exists(_ > GenBalanceBound))
          Seq("extreme_gen_straggler")
        else Nil),
    Gate("stream", (_, sc) => (sc.src, sc.scaled),
      f => Seq("per_doc_growth", "slope_1x", s"slope_${f}x"),
      (_, _, r) => r.ratio > Bound, measure = streamPass,
      ratio = (a, b) => b / a,
      extra = (spark, _, a, b) => Seq("batches" -> Batches.toDouble,
        "docs_a" -> Tables.documents(spark, a).count().toDouble,
        "docs_b" -> Tables.documents(spark, b).count().toDouble)))

  lazy val byName: Map[String, Gate] = records.map(g => g.name -> g).toMap

  /** A gate's flags over its rows and extra, sorted. */
  def flagsOf(gate: Gate, factor: Int, rows: Map[String, Row],
      extra: Map[String, Double]): Seq[String] =
    (rows.collect { case (n, r) if gate.flag(factor, n, r) => n }.toSeq ++
      gate.extraFlags(extra)).sorted

  /** The artifact file of a gate at a factor. */
  def artifact(gate: String, factor: Int): String =
    s"gate_${gate}_${factor}x.json"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && byName.contains(args(0)), "usage: Gates <" +
      records.map(_.name).mkString("|") +
      "> <factor> <srcSfDir> [scratchDir] [item ...]")
    val gate = byName(args(0))
    val factor = args(1).toInt
    require(factor >= 2, s"factor $factor: a gate compares two scales")
    val src = args(2)
    val scratch = args.lift(3).getOrElse(s"target/gates_x$factor")
    val only = args.drop(4).toSeq.distinct
    val all = gate.items(factor)
    val unknown = only.filterNot(all.contains)
    require(unknown.isEmpty,
      s"unknown ${gate.name} item(s): ${unknown.sorted.mkString(", ")}")
    val items = if (only.isEmpty) all else all.filter(only.contains)

    val spark = Harness.session()
    val scale = Scale(src, scratch)
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)
    val (a, b) = gate.dirs(spark, scale)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Row]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def log(n: String, r: Row, note: String): Unit =
      println(f"[${gate.name}] $n%-28s a=${r.a}%9.4f b=${r.b}%9.4f " +
        f"ratio=${r.ratio}%7.2f" + r.work.map { case (wa, wb) =>
          f" work=$wa%.0f->$wb%.0f (${r.workRatio.get}%.1fx)"
        }.getOrElse("") + note)
    val first = gate.measure(spark)
    items.foreach { n =>
      try {
        val (ta, tb) = first(n, a, b)
        val work = growth.get(n).collect {
          case w: WorkGated if gate.readsWork(factor, n) =>
            (w.metric(spark, a), w.metric(spark, b))
        }
        rows(n) = gate.row(ta, tb, work)
        log(n, rows(n), "")
      } catch { case e: Throwable =>
        failed += n
        println(s"[${gate.name}] FAILED ${errLine(n, e)}")
      }
    }
    // A flag that survives equal walls is not a wall flag: a fresh pair
    // cannot clear it, so only the others are re-measured.
    val remeasured = flagsOf(gate, factor, rows.toMap, Map.empty)
      .filter(rows.contains).filterNot { n =>
        val r = rows(n)
        gate.flag(factor, n, gate.row(r.a, r.a, r.work))
      }
    val fresh = gate.measure(spark)
    remeasured.foreach { n =>
      try {
        val (ta, tb) = fresh(n, a, b)
        val r = rows(n)
        rows(n) = gate.row(math.min(r.a, ta), math.min(r.b, tb), r.work)
        log(n, rows(n), " REMEASURED")
      } catch { case e: Throwable =>
        println(s"[${gate.name}] remeasure failed: ${errLine(n, e)}")
      }
    }
    val extra =
      try gate.extra(spark, scale, a, b)
      catch { case e: Throwable =>
        failed += "extra"
        println(s"[${gate.name}] FAILED ${errLine("extra", e)}")
        Nil
      }
    val flags = flagsOf(gate, factor, rows.toMap, extra.toMap)
    val rowsJson = Harness.obj(rows.map { case (n, r) =>
      n -> Harness.nums(Seq("a" -> r.a, "b" -> r.b, "ratio" -> r.ratio) ++
        r.work.toSeq.flatMap { case (wa, wb) =>
          Seq("work_a" -> wa, "work_b" -> wb, "work_ratio" -> r.workRatio.get)
        }, 6)
    })
    val path = artifact(gate.name, factor)
    Harness.emit(path, Harness.obj(Seq(
      "gate" -> Harness.str(gate.name), "factor" -> factor.toString,
      "sf" -> Harness.str(src), "cpus" -> Harness.cpus.toString,
      "dirs" -> Harness.obj(Seq("a" -> Harness.str(a), "b" -> Harness.str(b))),
      "flags" -> Harness.arr(flags), "failed" -> Harness.arr(failed.sorted),
      "remeasured" -> Harness.arr(remeasured), "only" -> Harness.arr(only),
      "rows" -> rowsJson,
      "extra" -> Harness.nums(extra, 6))))
    spark.stop()
  }
}
