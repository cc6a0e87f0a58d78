package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * reports timings as driver-parseable JSON.
  *
  * Output protocol — shaped by three driver failures: rounds 1–2 landed
  * `parsed: null` because a single long JSON line printed at the end got
  * its head chopped by the driver's ~2 KB stdout tail window; round 10
  * landed `rc: 124 / parsed: null` because the whole protocol printed
  * NOTHING until a ~42-minute run finished and the driver's wall-clock
  * budget expired first. So output is now INCREMENTAL:
  *   - queries are processed in sorted-name chunks; as each chunk
  *     finishes its full measurement (warmup, passes, re-measures) a
  *     standalone short line `{"part":i,"of":n,"queries":{...}}` prints
  *     immediately and ./bench_results.json is REWRITTEN with everything
  *     measured so far (marked `"provisional":true`, `"completed"` <
  *     `"n"`) — a kill at ANY point after the first chunk (~2 min in)
  *     leaves parsable per-query data both on stdout and on disk;
  *   - after each chunk a compact PROVISIONAL summary line in the
  *     contract shape (`"metric":"total"`, `"value":-1` while
  *     incomplete, `"provisional":true`) prints, so the tail window
  *     always contains a summary no matter where a kill lands;
  *   - the LAST line printed (after spark.stop()) is the final summary
  *     `{"metric":"total","value":…,"unit":"sec",…}` — small enough
  *     that it plus sbt's trailer always fits in the tail window.
  *
  * Methodology — shaped by the same wall-clock budget: per chunk, one
  * warmup pass (JIT, codegen caches, and the persisted signature tables
  * the dedup/ANN pipelines would keep materialized in production), then
  * TWO measured passes; only queries whose two samples DISAGREE (gap
  * beyond [[BenchGate.passesAgree]]'s noise bound) get a third pass,
  * and only still-noisy queries get up to two re-measure samples. An
  * agreeing pair publishes its MIN (noise only inflates); three-plus
  * samples publish the median of the [[BenchGate.trimmed]] SMALLEST
  * three — round 10's nearest-to-overall-median trim let a co-tenant
  * burst drag the median itself (w22_rolling_corr published 12.1s vs
  * 3.85s isolated). Re-measured query names are recorded in
  * "remeasured". Per-query spread goes to bench_results.json; the
  * summary carries the worst spread so a noisy capture is visible in
  * the artifact itself. Queries whose stat lands >1.3× above the
  * committed floor get a FLOOR-DEFENSE loop (up to 2 more passes
  * hunting one at-floor sample — [[BenchGate.floorSuspect]]); a
  * suspect that REPRODUCES its floor publishes its min (the defense
  * loop spent extra samples hunting it — the min is then the honest
  * stat, and the query is exonerated from the regression gate); a
  * suspect that does NOT reproduce publishes the same min2/median3
  * stat as everyone else — publishing its defense-loop min would let
  * a min landing in the (1.3, 1.5]× gap dodge a flag the stat would
  * raise, silently weakening the gate. The regression comparison
  * itself always runs on the stat series ("stat" in the artifact
  * records which estimator each query published; min-publishers are
  * exactly the floor_reproduced=true set). Round 12's artifact
  * carried 7 flags its own quiet reruns disproved, so the artifact
  * now runs that exoneration before publishing. The artifact also
  * carries recall@10 of each approximate ANN variant vs the exact
  * baseline ("recall") and any queries left unwarmed by a fatal
  * warmup break ("cold").
  *
  * Cross-round gate policy (flag rules, committed-prior refresh, the
  * agreement/trim rules — all noise-aware) lives in [[BenchGate]] —
  * pure functions, specced by BenchGateSpec without a Spark session.
  * A run that did not complete every query never refreshes the
  * committed prior ([[BenchGate.mergedPrior]] `complete=false`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Optional args: restrict to these query names (dev profiling); the
    // driver passes none → full run.
    val subset = args.nonEmpty
    val names = Harness.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus.toString
    // The committed per-scale-factor prior: `bench_results.json` is
    // gitignored, so a fresh driver checkout never found a prior and the
    // regression comparison sat disabled (prev_n:0 in rounds ≤6).
    // bench_prev/<sf>.json IS committed, keyed by the sfDir basename so a
    // dev run from any path still compares like with like.
    val sfBase = new java.io.File(sfDir).getName
    val prevPath = java.nio.file.Paths.get(s"bench_prev/$sfBase.json")
    def queriesOf(j: JsonNode) = j.get("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    def field(j: JsonNode, k: String) = Option(j.get(k)).map(_.asText)
    // The prior is keyed by basename but records the FULL sfDir it was
    // measured on: two corpora whose dirs share a basename (/a/sf0.1 vs
    // /b/sf0.1) must not share a prior — a mismatch disables the
    // comparison (and this run's refresh then starts a fresh prior for
    // its own dir). A legacy prior without the field is accepted.
    // The prior also records the CPU count it was measured at: dev-scale
    // (sf0.001) walls are dominated by per-stage fixed costs that scale
    // with parallelism (stash-verified 2.4s vs 0.766s for the same code
    // on different cpu counts), so a prior from a different container
    // shape would flag phantom regressions — ignore it with a note and
    // let this run's refresh start a fresh prior. Legacy priors without
    // the field are accepted (same policy as sf_dir).
    def cpusMatch(j: JsonNode): Boolean = {
      val ok = field(j, "cpus").forall(_ == cpus)
      if (!ok) System.err.println(
        s"[bench] prior ignored: measured on different cpu count " +
          s"(prior vs current $cpus)")
      ok
    }
    // Prior run's per-query medians, read BEFORE this run overwrites the
    // artifact. Fallback to the legacy uncommitted artifact (useful for
    // back-to-back local runs), with a same-SF guard — a prior at a
    // different scale factor would flag phantom regressions everywhere.
    val prev: Map[String, Double] =
      try {
        val mapper = new ObjectMapper
        if (java.nio.file.Files.exists(prevPath)) {
          val j = mapper.readTree(prevPath.toFile)
          if (field(j, "sf_dir").forall(_ == sfDir) && cpusMatch(j))
            queriesOf(j)
          else Map.empty
        } else {
          val j = mapper.readTree(new java.io.File("bench_results.json"))
          if (field(j, "sf").contains(sfDir)) queriesOf(j) else Map.empty
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val spark = Harness.session()
    def runFull(name: String): Unit = Harness.runFull(spark, name, sfDir)
    // Sorted-name chunks sized so each part line stays ~500 bytes —
    // well inside the driver's tail window — and the first part prints
    // a couple of minutes in.
    val chunkSize = 20
    val chunkList = names.grouped(chunkSize).toSeq
    val passes = 3 // max regular samples; trim/stat keep at most this many
    var failed = Set.empty[String]
    var cold = Seq.empty[String]
    var remeasured = Set.empty[String]
    // The first failure's exception class + message, carried into the
    // artifact: round 6's artifact showed 55 `-1`s but not WHY — the
    // cause had to be re-derived by rerunning Verify by hand.
    // errLine bounds its length BEFORE escaping: truncating the escaped
    // form could split an escape pair and emit an unterminated string.
    var firstErr: Option[String] = None
    def noteErr(name: String, e: Throwable): Unit =
      if (firstErr.isEmpty) firstErr = Some(errLine(name, e))
    var fatal = false
    // Once a warmup hits a FATAL (OOM-class) the JVM must not run more
    // warmups; every query not yet warmed runs COLD in the measured
    // passes — their timings are not cross-round comparable, so they
    // are listed in "cold" for the reader to discount.
    var warmBroken = false
    // Floor-defense verdicts: suspect query -> did any sample reproduce
    // the committed floor? ([[BenchGate.floorSuspect]]). Suspects
    // publish their MIN (noise only inflates; the min is the honest
    // stat once the defense loop has spent extra samples hunting it).
    val floorChecked = scala.collection.mutable.Map.empty[String, Boolean]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // The min2/median3 stat for EVERY query, kept beside the published
    // results (which use the raw min for floor-suspects): the committed
    // prior refreshes from THIS — letting a suspect's defense-loop min
    // replace its prior would ratchet jittery queries' floors to
    // best-ever single samples, making stat > 1.3×prior chronic and
    // resurrecting the false-flag mode the defense exists to kill.
    val statResults = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double)]
    val spreadsBuf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

    def f3(v: Double): String = if (v < 0) "-1" else Harness.num(v)
    def qJson(rs: Seq[(String, Double)]): String =
      Harness.obj(rs.map { case (k, v) => k -> f3(v) })

    // Subset (dev) runs write a SIDE file: overwriting the full-run
    // artifact with a partial query map would destroy the baseline the
    // next round's regression comparison reads.
    val artifact =
      if (subset) "bench_results_subset.json" else "bench_results.json"

    // The fields every artifact and summary line opens and closes with.
    def headFields(provisional: Boolean): Seq[(String, String)] = {
      val total = results.map(_._2).filter(_ >= 0).sum
      val maxSpread =
        if (spreadsBuf.isEmpty) 0.0 else spreadsBuf.map(_._2).max
      Seq("metric" -> Harness.str("total"),
        "value" -> (if (!provisional && failed.isEmpty) f3(total) else "-1"),
        "unit" -> Harness.str("sec"), "n" -> names.size.toString,
        "completed" -> results.count(_._2 >= 0).toString,
        "provisional" -> provisional.toString, "total_sec" -> f3(total),
        "passes" -> passes.toString,
        "stat" -> Harness.str(
          "min2/median3; floor_reproduced=true publishes min"),
        "max_spread_sec" -> f3(maxSpread))
    }
    def tailFields: Seq[(String, String)] = Seq(
      "failed" -> Harness.arr(failed.toSeq.sorted),
      "first_error" -> firstErr.map(Harness.str).getOrElse("null"),
      "sf" -> Harness.str(sfDir))

    // Rewrite the on-disk artifact with everything measured so far —
    // called after EVERY chunk, so a kill at any point leaves complete
    // per-query data for the chunks that finished. `extra` carries the
    // final run's recall/regression fields; provisional writes omit
    // them (they are only computable at the end).
    def writeArtifact(provisional: Boolean,
        extra: Seq[(String, String)]): Unit = {
      val line = Harness.obj(headFields(provisional) ++ Seq(
        "queries" -> qJson(results.toSeq),
        "spread" -> qJson(spreadsBuf.toSeq)) ++ extra ++ Seq(
        "remeasured" -> Harness.arr(remeasured.toSeq.sorted),
        "cold" -> Harness.arr(cold)) ++ tailFields)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(artifact), (line + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] artifact write failed: $e")
      }
    }
    def summaryLine(provisional: Boolean, recallJson: String,
        regNamesJson: String, floorJson: String = "{}"): String =
      Harness.obj(headFields(provisional) ++ Seq("recall" -> recallJson,
        "regressions_vs_prev" -> regNamesJson, "floor_reproduced" -> floorJson,
        "prev_n" -> prev.size.toString) ++ tailFields ++
        Seq("detail" -> Harness.str(artifact)))

    // One timed sample; returns false on a FATAL (OOM-class) throw —
    // the JVM is poisoned, any further timings would be garbage, but
    // the artifact must still be emitted (value:-1 + query in "failed");
    // dying with no summary would reproduce the parsed:null failure
    // mode this protocol exists to prevent.
    def measure(name: String): Boolean = {
      val t0 = System.nanoTime()
      try {
        runFull(name)
        samples(name) =
          ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(name, Nil)
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          noteErr(name, e)
          failed += name
          true
        case e: Throwable =>
          System.err.println(s"[bench] $name FATAL: $e")
          noteErr(name, e)
          failed += name
          fatal = true
          false
      }
    }
    // Still-noisy rule for the re-measure loop: spread beyond
    // max(1s, 2× median) over ALL samples so far.
    def noisy(name: String): Boolean =
      !failed(name) && samples.get(name).exists { xs =>
        xs.size >= passes &&
          (xs.max - xs.min) > math.max(1.0, 2 * BenchGate.stat(xs, passes))
      }

    val chunkLoop = new scala.util.control.Breaks
    var partsPrinted = 0
    def partLine(rs: Seq[(String, Double)]): String =
      Harness.obj(Seq("part" -> partsPrinted.toString,
        "of" -> chunkList.size.toString, "queries" -> qJson(rs)))
    chunkLoop.breakable {
      for ((chunk, ci) <- chunkList.zipWithIndex) {
        // Warmup (non-fatal failures re-surface in the measured pass).
        if (!warmBroken) {
          val w = new scala.util.control.Breaks
          w.breakable {
            for (n <- chunk) {
              try runFull(n) catch {
                case scala.util.control.NonFatal(_) =>
                case e: Throwable =>
                  System.err.println(s"[bench] warmup $n FATAL: $e")
                  warmBroken = true
                  cold = cold :+ n
                  w.break()
              }
            }
          }
          if (warmBroken)
            cold = (cold ++ chunk.dropWhile(c => !cold.contains(c)).drop(1))
              .distinct
        } else cold = (cold ++ chunk).distinct
        // Two interleaved measured passes over the chunk.
        for (_ <- 1 to 2; n <- chunk if !fatal && !failed(n)) measure(n)
        // Third pass only for pass-1/pass-2 disagreers.
        for (n <- chunk if !fatal && !failed(n)
            && samples.get(n).exists(xs =>
              xs.size == 2 && !BenchGate.passesAgree(xs.head, xs(1))))
          measure(n)
        // Up to two re-measure samples for still-noisy queries.
        for (_ <- 1 to 2; n <- chunk if !fatal && noisy(n)) {
          remeasured += n
          measure(n)
        }
        // Floor defense ([[BenchGate.floorSuspect]]): a stat sitting
        // >1.3× above the committed floor gets up to two extra passes
        // to REPRODUCE that floor; if any sample comes back at ≤1.3×
        // the code is exonerated (the inflation was the window) and the
        // query publishes its min with floor_reproduced=true — only
        // un-reproduced floors may become regression flags. COLD
        // queries are skipped (regressionFlags excludes them anyway,
        // and after a warmup fatal nearly everything sits above its
        // warm floor — two extra passes apiece in a degrading JVM would
        // reproduce the round-10 wall-clock overrun); so are suspects
        // whose absolute delta can never clear [[BenchGate.AbsFloorSec]]
        // (a flag is impossible, there is nothing to defend).
        for (n <- chunk if !fatal && !failed(n) && samples.contains(n)
            && !cold.contains(n)
            && BenchGate.floorSuspect(
              BenchGate.stat(samples(n), passes), prev.get(n))
            && BenchGate.stat(samples(n), passes) - prev(n) >
              BenchGate.AbsFloorSec) {
          var tries = 0
          while (tries < BenchGate.FloorExtraPasses && !fatal &&
              !failed(n) &&
              !BenchGate.floorReproduced(samples(n), prev(n))) {
            remeasured += n
            measure(n)
            tries += 1
          }
          if (!failed(n))
            floorChecked(n) = BenchGate.floorReproduced(samples(n), prev(n))
        }
        // Chunk close-out: publish stats, print the part line, rewrite
        // the artifact, print a provisional summary — so a kill during
        // ANY later chunk leaves this one fully recorded.
        // A FATAL mid-chunk leaves the chunk's later queries sample-less;
        // they publish -1 below, so they must ALSO join `failed` or the
        // artifact's n − completed stops reconciling with failed.length.
        if (fatal)
          failed ++= chunk.filterNot(n => samples.contains(n) || failed(n))
        // Only an EXONERATED suspect (floor reproduced) publishes its
        // defense-loop min; an un-reproduced suspect publishes the
        // stat like every non-suspect (see the header contract).
        val chunkResults = chunk.map { n =>
          n -> (if (failed(n) || !samples.contains(n)) -1.0
                else if (floorChecked.getOrElse(n, false)) samples(n).min
                else BenchGate.stat(samples(n), passes))
        }
        results ++= chunkResults
        statResults ++= chunk.map { n =>
          n -> (if (failed(n) || !samples.contains(n)) -1.0
                else BenchGate.stat(samples(n), passes))
        }
        spreadsBuf ++= chunk.collect {
          case n if !failed(n) && samples.get(n).exists(_.size >= 2) =>
            n -> BenchGate.spreadOf(samples(n), passes)
        }
        partsPrinted += 1
        println(partLine(chunkResults))
        val last = ci == chunkList.size - 1
        writeArtifact(provisional = !last && !fatal, extra = Nil)
        if (!last && !fatal)
          println(summaryLine(provisional = true, "{}", "[]"))
        if (fatal) chunkLoop.break()
      }
    }
    // After a fatal abort, queries never reached have no samples —
    // report them as failed with -1 timings, and emit their part lines
    // so the stdout record covers the full inventory.
    if (results.size < names.size) {
      val unreached = names.drop(results.size)
      failed ++= unreached
      unreached.grouped(chunkSize).foreach { chunk =>
        val rs = chunk.map(_ -> -1.0)
        results ++= rs
        partsPrinted += 1
        println(partLine(rs))
      }
    }

    // Approximate-query quality, computed inside the bench run — row
    // counts (the only driver-side signal for no-oracle queries) cannot
    // catch an index/bucketing regression; these numbers can. Tiny
    // collects: tens-to-hundreds of id pairs per query.
    // One row per [[Recall]]-checked query in the registry.
    val recall = Recall.Pairings.flatMap { case (twin, variants, keyCols) =>
      if (!fatal && !failed(twin) && names.contains(twin))
        try Recall.recallOf(spark, sfDir, twin,
          variants.filter(v => names.contains(v) && !failed(v)), keyCols)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[bench] recall vs $twin failed: ${e.getMessage}")
            Seq.empty
        }
      else Seq.empty
    }
    // Cross-round regressions — policy in [[BenchGate.regressionFlags]]:
    // >1.5× slower AND delta above max(0.5s, 3× the query's own spread).
    // Cold queries (unwarmed after a warmup fatal) are excluded: their
    // timings are not comparable across rounds by this file's own
    // contract, so a cold 1.8s vs a prior warm 1.0s must not read as a
    // regression.
    // A reproduced floor exonerates the code: the defense loop found a
    // sample at the committed floor, so the elevated stat was the
    // capture window and the flag would be noise, not a regression.
    // The comparison runs on statResults (min2/median3 for EVERY
    // query), never on a suspect's published min — the gate's input
    // must not depend on which estimator a query happened to publish.
    val regressions = BenchGate.regressionFlags(
      statResults.toSeq, prev, spreadsBuf.toMap, cold)
      .filterNot { case (n, _) => floorChecked.getOrElse(n, false) }
    val floorJson = Harness.obj(floorChecked.toSeq.sortBy(_._1)
      .map { case (n, ok) => n -> ok.toString })
    val regSummaryJson = Harness.arr(
      regressions.toSeq.sortBy(-_._2).take(8).map(_._1))
    val recallJson = qJson(recall)
    // Floors are judged over the variants this run selected together
    // with their twin: one whose measurement is missing flags.
    val recallFlags = Recall.flagged(recall.toMap,
      Recall.Floors.filter { case (v, _) =>
        names.contains(v) && Recall.Pairings.exists { case (twin, vs, _) =>
          vs.contains(v) && names.contains(twin) }
      })
    // Final artifact: complete results + the end-of-run-only fields.
    writeArtifact(provisional = false, extra = Seq("recall" -> recallJson,
      "recall_flags" -> Harness.arr(recallFlags),
      "regressions_vs_prev" -> qJson(regressions.toSeq.sortBy(-_._2)),
      "floor_reproduced" -> floorJson, "prev_n" -> prev.size.toString))
    // Refresh the committed prior for the NEXT run's regression gate —
    // policy in [[BenchGate.mergedPrior]]: a fatal or INCOMPLETE run
    // never writes (round 10 closed on a 67/221 artifact; its floors
    // must not leak), a quiet run's medians replace the prior, a NOISY
    // run (max spread > 1s) only merges per-query minima, so co-tenant
    // inflation cannot overwrite quiet baselines. Merging over the
    // existing prior means a query missing this time keeps its last
    // good number. Full runs only — a dev subset must not shrink the
    // baseline. COLD timings are excluded for the same reason they are
    // excluded from the regression check.
    val maxSpread = if (spreadsBuf.isEmpty) 0.0 else spreadsBuf.map(_._2).max
    if (!subset)
      BenchGate.mergedPrior(prev, statResults.toSeq, cold, maxSpread, fatal,
        complete = failed.isEmpty && results.size == names.size).foreach {
        merged =>
          try {
            val mergedJson = qJson(merged.toSeq.sortBy(_._1))
            java.nio.file.Files.createDirectories(prevPath.getParent)
            java.nio.file.Files.write(prevPath,
              (Harness.obj(Seq("sf" -> Harness.str(sfBase),
                "sf_dir" -> Harness.str(sfDir), "cpus" -> Harness.str(cpus),
                "queries" -> mergedJson)) + "\n").getBytes("UTF-8"))
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] prior write failed: $e")
          }
      }
    spark.stop()
    // After spark.stop() so no stray executor logging lands after it; the
    // final short summary line goes LAST so the tail window always
    // contains it.
    println(summaryLine(provisional = false, recallJson, regSummaryJson,
      floorJson))
  }
}
