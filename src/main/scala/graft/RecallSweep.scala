package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: recall / scan-fraction sweep for the IVF index — the
  * measurement loop behind the shipped IvfCells/IvfProbes/IvfIters/
  * IvfCorpusAssign constants (the scaladoc curves in
  * [[operators.Similarity]] come from runs of this).
  *
  * Usage: runMain graft.RecallSweep <sfDir> cells:probes:iters:assign ...
  * Prints recall@10 vs the exact scan, the index scan fraction
  * (probes·assign/cells), and wall time per configuration.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    val exact = operators.Similarity.annTopkExact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // Exact near-dup PAIR baseline for the sem: mode — computed once,
    // only if a sem: point is requested (the all-pairs pass is the
    // expensive exact baseline SemDeDup exists to avoid).
    lazy val exactPairs: Set[(Long, Long)] =
      SparkEntry.queries("dd_cosine_neardup")(spark, sfDir)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // The corpus-derived config (round 8: cells ∝ N, probes at the
    // constant scan fraction) — printed so every sweep records the
    // shipped geometry it ran against. (`locally`: a bare block here
    // would parse as an apply on the preceding Set.)
    locally {
      val n = graft.Tables.embeddings(spark, sfDir).count()
      val c = operators.Similarity.ivfCells(spark, sfDir)
      val p = operators.Similarity.ivfProbes(spark, sfDir, c)
      val sc = operators.Similarity.semCells(spark, sfDir)
      println(s"derived config: n=$n ivf=$c/$p (frac=" +
        f"${p.toDouble / c}%.3f) sem_cells=$sc")
    }
    args.drop(1).foreach {
      // pq:<k>:<rerank%> — flat-PQ codebook-size / shortlist sweep
      case cfg if cfg.startsWith("pq:") =>
        val Array(_, k, fpct) = cfg.split(":")
        val frac = fpct.toDouble / 100
        val t0 = System.nanoTime()
        val got = operators.Similarity
          .annTopkPqTuned(spark, sfDir, k.toInt, frac)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.count(got.contains).toDouble / exact.size
        println(f"pq k=${k.toInt}%-4d rerank=$frac%.2f  " +
          f"recall=$recall%.3f sec=$sec%.1f")
      // ivfpq:<probes> — composed-index coarse probe-count curve (the
      // coarse stage is what caps IVFPQ recall below flat PQ's)
      case cfg if cfg.startsWith("ivfpq:") =>
        val Array(_, p) = cfg.split(":")
        val t0 = System.nanoTime()
        val got = operators.Similarity
          .annTopkIvfPqTuned(spark, sfDir, p.toInt)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.count(got.contains).toDouble / exact.size
        println(f"ivfpq probes=${p.toInt}%-4d  " +
          f"recall=$recall%.3f sec=$sec%.1f")
      // append:<ivfflat|ivfpq>:<pct> — add-without-retrain drift curve:
      // build the index on (100-pct)% of the corpus, append the rest,
      // measure serving recall over the FULL corpus vs exact. The curve
      // is the rebuild-scheduling signal the append docstrings cite.
      case cfg if cfg.startsWith("append:") =>
        val Array(_, fam, pctS) = cfg.split(":")
        driftPoint(spark, sfDir, exact, "append", fam, pctS.toInt,
          rebuild = false)
      // rebuild:<ivfflat|ivfpq>:<pct> — the recovery point of the drift
      // curve: build on (100-pct)%, append the rest, REBUILD from the
      // index's own resident vectors, measure serving recall from the
      // fresh index. The (append, rebuild) recall pair at the same pct
      // is the measured payoff of scheduling the rebuild.
      case cfg if cfg.startsWith("rebuild:") =>
        val Array(_, fam, pctS) = cfg.split(":")
        driftPoint(spark, sfDir, exact, "rebuild", fam, pctS.toInt,
          rebuild = true)
      // sem:<cells>:<assign> — SemDeDup PAIR recall vs the exact
      // all-pairs cosine pass (dd_cosine_neardup), the number the bench
      // artifact floors for dd_semantic; sweeps the coarse-cell count
      // and the multi-assignment breadth together since pair recall
      // trades against candidate volume ∝ assign²·N²/cells.
      case cfg if cfg.startsWith("sem:") =>
        val Array(_, c, a) = cfg.split(":")
        val t0 = System.nanoTime()
        val got = operators.Similarity
          .semanticNearDupTuned(spark, sfDir, c.toInt, a.toInt,
            operators.Dedup.CosTau)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val ep = exactPairs
        val recall =
          if (ep.isEmpty) Double.NaN
          else ep.count(got.contains).toDouble / ep.size
        println(f"sem cells=${c.toInt}%-4d assign=${a.toInt}%-2d  " +
          f"pair_recall=$recall%.3f pairs=${got.size}%-6d sec=$sec%.1f")
      // mm:<cells>:<probes>:<iters>[:assign] — same grid point with
      // k-means++ (d²-weighted) coarse seeding instead of rank
      // seeding; the (cfg, mm:cfg) recall pair isolates what seed
      // quality buys at fixed serve cost.
      case cfg if cfg.startsWith("mm:") =>
        val parts = cfg.split(":").drop(1).map(_.toInt)
        val Array(c, p, it) = parts.take(3)
        val a = parts.lift(3).getOrElse(1)
        val t0 = System.nanoTime()
        val got = operators.Similarity
          .annTopkIvfTuned(spark, sfDir, c, p, it, a, seed = "kmeanspp")
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.count(got.contains).toDouble / exact.size
        println(f"mm cells=$c probes=$p iters=$it assign=$a  " +
          f"recall=$recall%.3f frac=${p.toDouble * a / c}%.3f sec=$sec%.1f")
      case cfg =>
        val Array(c, p, it, a) = cfg.split(":").map(_.toInt)
        val t0 = System.nanoTime()
        val got = operators.Similarity
          .annTopkIvfTuned(spark, sfDir, c, p, it, a)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.count(got.contains).toDouble / exact.size
        println(f"cells=$c probes=$p iters=$it assign=$a  " +
          f"recall=$recall%.3f frac=${p.toDouble * a / c}%.3f sec=$sec%.1f")
    }
    // The SERVED variants at their shipped configs — so a sweep run also
    // records where the other index families sit on the same corpus
    // (the round-6 artifact had no ivfpq row here despite ivfpq being
    // the serving layout).
    Seq("ann_topk_lsh", "ann_topk_ivf", "ann_topk_pq", "ann_topk_ivfpq")
      .foreach { name =>
        val t0 = System.nanoTime()
        val got = SparkEntry.queries(name)(spark, sfDir)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = exact.count(got.contains).toDouble / exact.size
        println(f"served $name%-16s recall=$recall%.3f sec=$sec%.1f")
      }
    spark.stop()
  }

  /** One (build-on-subset, append-the-rest, optionally rebuild, serve)
    * drift measurement — the shared scaffolding of the append:/rebuild:
    * sweep points, parameterized by the one step that differs.
    */
  private def driftPoint(spark: SparkSession, sfDir: String,
      exact: Set[(Long, Long)], label: String, fam: String, pct: Int,
      rebuild: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    val Sim = operators.Similarity
    val base = java.nio.file.Files
      .createTempDirectory(s"graft_sweep_$label$fam$pct").toString
    val all = Tables.embeddings(spark, sfDir)
    // deterministic split: queries always in the build set
    all.filter(col("vec_id") < 10 || col("vec_id") % 100 >= pct)
      .write.parquet(s"$base/sub/embeddings.parquet")
    val batch = all.select("vec_id", "embedding")
      .filter(col("vec_id") >= 10 && col("vec_id") % 100 < pct)
    val queries10 = all.select("vec_id", "embedding")
      .filter(col("vec_id") < 10)
    val (save, append, rebuildIdx, serve): (
        (SparkSession, String, String) => Unit,
        (org.apache.spark.sql.DataFrame, String) => Unit,
        (SparkSession, String, String) => Unit,
        (org.apache.spark.sql.DataFrame, String) =>
          org.apache.spark.sql.DataFrame) = fam match {
      case "ivfflat" => (
        (s, d, p) => Sim.saveIvfFlatIndex(s, d, p),
        Sim.appendToIvfFlatIndex _, Sim.rebuildIvfFlatIndex _,
        (q, p) => Sim.topkAgainstIvfFlatIndex(q, p))
      case "ivfpq" => (
        Sim.saveIvfPqIndex _, Sim.appendToIvfPqIndex _,
        Sim.rebuildIvfPqIndex _,
        (q, p) => Sim.topkAgainstIvfPqIndex(q, p))
    }
    val t0 = System.nanoTime()
    save(spark, s"$base/sub", s"$base/idx")
    if (pct > 0) append(batch, s"$base/idx")
    val serveDir = if (rebuild) {
      rebuildIdx(spark, s"$base/idx", s"$base/idx2"); s"$base/idx2"
    } else s"$base/idx"
    val served = serve(queries10, serveDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sec = (System.nanoTime() - t0) / 1e9
    val recall = exact.count(served.contains).toDouble / exact.size
    println(f"$label $fam%-8s pct=$pct%-3d recall=$recall%.3f sec=$sec%.1f")
  }
}
