package graft

import org.apache.spark.sql.functions._

/** Constrained-heap proof of the value-grid order-statistics rewrites:
  * runs ONE stage per JVM so an OOM kills only its own measurement, and
  * the launcher (a plain `java -Xmx2g` with the compiled classes and
  * the spark jars dir on the classpath) sets the deliberately small
  * heap. The claim under test is the
  * round-9 rewrite's reason to exist: Spark's buffering
  * `median`/`percentile` aggregate holds EVERY value of a group in one
  * unspillable per-group buffer (sort-based aggregation fallback spills
  * ACROSS groups, never within one), so a single global median over a
  * continuous column dies with the heap, while the distinct-value-grid
  * plan's per-task state is a bounded span of the grid and its
  * sorts/windows spill.
  *
  * Stages (default n = 30M distinct double values — ~2 GB of boxed
  * aggregation-buffer entries, chosen to exceed the 2g test heap):
  *   median_agg      — built-in `median(x)`: expected to DIE at -Xmx2g
  *   percentile_agg  — built-in `percentile(x, 0.5)`: same buffer, DIES
  *   grid_partitioned— exactMedians (32-way range-partitioned prefix
  *                     sum): expected to SURVIVE
  *   grid_one_window — exactMedians buckets=1 (single window task):
  *                     SURVIVES via window/sort spill — its scale
  *                     problem is the one-task straggler, not heap
  *   query:<name>    — any declared query on [sfDir], for running the
  *                     shipped grid consumers (a13_medians,
  *                     w8_percentiles, a7_two_level, es_rfm) under the
  *                     same constrained heap
  *
  * Usage: java -Xmx2g ... graft.MemSmoke <stage> [n] [sfDir]
  * Prints one JSON line; a heap death is the ABSENCE of that line plus
  * a nonzero exit, which the launcher records.
  */
object MemSmoke {
  def main(args: Array[String]): Unit = {
    val stage = args(0)
    val n = args.lift(1).map(_.toLong).getOrElse(30000000L)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    // Every value distinct and continuous-ish: the grid IS the data,
    // the worst case for any order-statistics plan.
    def frame = spark.range(0, n).select((col("id") * 1e-6).as("x"))
    val t0 = System.nanoTime()
    val result: Double = stage match {
      case "median_agg" =>
        frame.agg(median(col("x"))).first().getDouble(0)
      case "percentile_agg" =>
        frame.agg(percentile(col("x"), lit(0.5))).first().getDouble(0)
      case "grid_partitioned" =>
        operators.Relational.exactMedians(frame, Seq("x" -> "med"))
          .first().getDouble(0)
      case "grid_one_window" =>
        operators.Relational.exactMedians(frame, Seq("x" -> "med"),
          buckets = 1).first().getDouble(0)
      case "sql_median_rewritten" =>
        // The SAME SQL text that dies as median_agg, but with
        // GridOrderStatsRule installed: the optimizer swaps the
        // buffering aggregate for the grid plan, so plain user SQL
        // survives the constrained heap — the end-to-end payoff of the
        // rewrite (bit-compatibility is GridRewriteSpec's job).
        plans.GridOrderStatsRule.install(spark)
        frame.createOrReplaceTempView("mem_t")
        spark.sql("SELECT median(x) AS m FROM mem_t").first().getDouble(0)
      case "sql_mixed_rewritten" =>
        // Mixed median + plain aggregates: the rewrite's residual path
        // pins a narrow projection of the child (30M doubles — bigger
        // than the heap's storage share, so the pin must spill to disk
        // rather than die) and joins the residual Aggregate back onto
        // the grid result. Survival proves the one-scan mixed plan
        // holds under constrained memory, not just at bench scale.
        plans.GridOrderStatsRule.install(spark)
        frame.createOrReplaceTempView("mem_t")
        spark.sql("SELECT round(median(x), 6) AS m, count(*) AS n FROM mem_t")
          .first().getDouble(0)
      case "sql_multicol_rewritten" =>
        // Two value columns → two grids off the one pinned projection;
        // the builtin form would buffer BOTH columns' values in one
        // reducer (2× the median_agg state that already OOMs).
        plans.GridOrderStatsRule.install(spark)
        spark.range(0, n)
          .select((col("id") * 1e-6).as("x"), (col("id") * 2e-6).as("y"))
          .createOrReplaceTempView("mem_t2")
        spark.sql("SELECT median(x) AS mx, median(y) AS my FROM mem_t2")
          .first().getDouble(0)
      case "pin_churn" =>
        // Concurrent-session pool churn under the constrained heap: two
        // session clones push 24 DISTINCT grid-sized ad-hoc plans each
        // through bounded pinBounded pools (the GridOrderStatsRule
        // shape) while a LIBRARY pin serves throughout. Survival +
        // result proves (a) the LRU caps keep total pinned storage
        // bounded well below what 48 unevicted grid pins would need,
        // and (b) the library pin is never evicted by the churn — its
        // count stays exact and its storage level stays set at the end.
        val libN = math.max(1000L, n / 30)
        val lib = spark.range(0, libN).select((col("id") * 7L).as("k"))
        ContextCaches.pin(lib)
        require(lib.count() == libN)
        val perPool = 24
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val threads = (0 until 2).map { t =>
          new Thread(() => {
            try {
              val s = spark.newSession()
              for (i <- 0 until perPool) {
                // distinct plan per iteration, each a grid-sized frame
                val df = s.range(0, n / 8)
                  .select((col("id") * (t * perPool + i + 2L)).as("v"))
                  .groupBy("v").count()
                ContextCaches.pinBounded(df, s"mem-pool-$t", 4)
                Harness.drain(df)
              }
            } catch { case e: Throwable => errs.add(e) }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        require(errs.isEmpty, s"churn thread failed: ${errs.peek()}")
        require(lib.storageLevel.useMemory || lib.storageLevel.useDisk,
          "library pin evicted by pool churn")
        require(lib.count() == libN, "library pin result drifted")
        libN.toDouble
      case q if q.startsWith("query:") =>
        val name = q.stripPrefix("query:")
        Harness.runFull(spark, name, sfDir)
        0.0
      case other => sys.error(s"unknown stage $other")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(Harness.obj(Seq("metric" -> Harness.str("mem_smoke"),
      "stage" -> Harness.str(stage), "n" -> n.toString,
      "heap_mb" -> heap.toString, "sec" -> Harness.num(sec, 1),
      "result" -> Harness.num(result, 6))))
    spark.stop()
  }
}
