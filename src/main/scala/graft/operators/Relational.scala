package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.1–2.5, §2.7–2.9), expressed
  * as declarative DataFrame plans over the TESTDATA tables so Catalyst
  * keeps pushdown/pruning/broadcast decisions.
  *
  * Naming mirrors the survey: sN scans, pN projections/filters, jN joins,
  * aN aggregations, oN sort/limit, uN set ops, fN scalar-function surface.
  * Each query has a DuckDB oracle twin in [[specs]] with identical output
  * column names and ORDER BY.
  */
object Relational {

  // ---------------------------------------------------------------- scans

  /** S1 (scripts/etl_turbofan.py:10-19): whitespace-text positional scan
    * with numeric coercion. Demonstrated as a lossless roundtrip: serialize
    * lineitem rows to space-separated lines, then parse them back with the
    * positional split + try_cast pipeline the CMAPSS reader uses.
    */
  private def s1TextScan(s: SparkSession, d: String): DataFrame = {
    // spreadScan: the serialize→trim→regex-split→try_cast chain is the
    // query's whole cost and otherwise runs inside the single-split
    // scan stage on one core (r15 plan audit).
    val li = spreadScan(Tables.lineitem(s, d), col("l_orderkey"))
    val line = concat_ws(" ", col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    li.select(line.as("value"))
      .select(split(trim(col("value")), "\\s+").as("f"))
      .select(
        element_at(col("f"), 1).cast("long").as("l_orderkey"),
        element_at(col("f"), 2).cast("int").as("l_linenumber"),
        expr("try_cast(element_at(f, 3) AS double)").as("l_quantity"),
        expr("try_cast(element_at(f, 4) AS double)").as("l_extendedprice"),
        expr("try_cast(element_at(f, 5) AS double)").as("l_discount"))
      .orderBy("l_orderkey", "l_linenumber")
    // (r15: a localCheckpoint before this sort measured NO gain — the
    // spreadScan exchange's map output is reused by the range-sampling
    // job, so only the cheap post-exchange parse re-runs.)
  }

  /** S2/J2 (scripts/ml_pipeline.py:190-191): single-column scan with
    * positional key assignment (row i → unit i+1) via row_number.
    */
  private def s2IndexedScan(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"),
        row_number().over(Window.orderBy("n_nationkey")).as("rn"))
      .orderBy("n_nationkey")

  /** S3 (scripts/streamlit_dashboard.py:16-19): full ordered table scan. */
  private def s3TableScan(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).orderBy("s_suppkey")

  // -------------------------------------------- projections / filters

  /** P1 (scripts/etl_turbofan.py:63-67): column selection (pruned scan). */
  private def p1Project(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** P2 (turbine_etl_dbt/models/stg_cycles_raw.sql:11-21): typed
    * re-projection. floor-before-int-cast keeps Spark (truncate) and
    * DuckDB (round) cast semantics aligned.
    */
  private def p2Cast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      col("o_custkey").cast("string").as("custkey_str"),
      floor(col("o_totalprice")).cast("long").as("price_int"),
      col("o_orderdate").cast("date").cast("string").as("order_date"))
      .orderBy("o_orderkey")

  /** P4 (scripts/streamlit_dashboard.py:85-92): value-set membership. */
  private def p4Isin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R"))
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** P5 (scripts/streamlit_dashboard.py:43-48, ml_pipeline_gpu.py:800-810):
    * inequality / not-equal / null predicates.
    */
  private def p5Filter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") =!= "error" && col("value") >= 50 &&
        col("props").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy("event_id")

  /** P6 (scripts/etl_turbofan.py:74-78): constant-column detection as a
    * statistics pass — one distributed agg job whose scalar results
    * parameterize later plans (never a collect of row data).
    */
  private def p6ConstCols(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).agg(
      countDistinct(col("p_brand")).as("d_brand"),
      countDistinct(col("p_type")).as("d_type"),
      countDistinct(col("p_size")).as("d_size"),
      countDistinct(col("p_retailprice")).as("d_retailprice"))

  /** P8 (scripts/ml_pipeline.py:236-238): null repair with the column
    * median. Median computed as a 1-row stats frame and broadcast-joined,
    * not collected.
    */
  private def p8ImputeMedian(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_discount"), lit(0.0)).as("disc"))
    // distributed value-grid median (see exactMedians) — the buffering
    // median aggregate would single-task the whole column. buckets=1:
    // l_discount's grid is the 11-value ladder [0.00..0.10] at every
    // scale, so the one-window cumsum is an 11-row sort.
    val med = exactMedians(li, Seq("disc" -> "med"), buckets = 1)
    // Spread the imputation chain (r16, the p15_winsorize finding): the
    // coalesce+round project and the output sort's range sampling both
    // ran as ONE task on the single-split scan. The median branch keeps
    // the unspread scan (its grid collapse is the 11-value ladder).
    spreadScan(li, col("l_orderkey")).crossJoin(broadcast(med))
      .select(col("l_orderkey"), col("l_linenumber"),
        r6(coalesce(col("disc"), col("med"))).as("disc_imputed"))
      // No checkpoint-before-sort here (r16, measured): unlike p15's
      // clamp chain the imputation project is one coalesce, so the
      // range sampling's re-run costs less than the checkpoint's row
      // materialization — 1.27 baseline vs 1.31 checkpointed.
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P9 (scripts/ml_pipeline.py:440): clamp at zero. */
  private def p9Clamp(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        r6(greatest(col("value") - 100, lit(0.0))).as("clamped"))
      .orderBy("event_id")

  /** P10 (scripts/ml_pipeline.py:656-659; dashboard/dax-measures:27-33):
    * derived arithmetic — abs/squared error and guarded divide.
    */
  private def p10Arith(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      r6(abs(col("value") - 100)).as("abs_err"),
      r6(pow(col("value") - 100, 2)).as("sq_err"),
      r6(when(col("value") =!= 0, lit(100.0) / col("value"))).as("ratio"))
      .orderBy("event_id")

  /** P11 (dashboard/dax-measures:36-46): CASE bucketing + grouped counts. */
  private def p11Bucket(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(when(col("o_totalprice") < 50000, "low")
        .when(col("o_totalprice") < 150000, "mid")
        .when(col("o_totalprice") < 300000, "high")
        .otherwise("top").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  // ---------------------------------------------------------------- joins

  /** J1 (scripts/ml_pipeline.py:194-195): small-side equi joins. Dimension
    * tables are broadcast so the fact scan never shuffles for the join —
    * the 100 TB plan is scan + broadcast hash joins + one partial/final
    * hash agg.
    */
  private def j1BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Semi join: customers having at least one finished order (EXISTS). */
  private def j2SemiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** Anti join: customers with no orders at all (NOT EXISTS). */
  private def j3AntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  /** J2 (scripts/ml_pipeline.py:191): positional alignment — two sources
    * joined on row_number (the RUL-file ↔ unit_nr protocol).
    */
  private def j4Positional(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d)
      .select(col("r_name"), row_number().over(Window.orderBy("r_regionkey")).as("rn"))
    val n = Tables.nation(s, d)
      .select(col("n_name"), row_number().over(Window.orderBy("n_nationkey")).as("rn"))
    n.join(broadcast(r), Seq("rn"), "inner")
      .select("rn", "n_name", "r_name").orderBy("rn")
  }

  // --------------------------------------------------------- aggregations

  /** A1 (scripts/etl_turbofan.py:130-133): grouped multi-agg (the
    * units_summary shape) — partial+final hash aggregation.
    */
  private def a1GroupMulti(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        dsum(col("l_quantity")).as("qty_sum"),
        dsum(col("l_extendedprice")).as("price_sum"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A3 (scripts/ml_pipeline.py:194): last row per group (final-cycle
    * snapshot) via a descending row_number window.
    */
  private def a3LastPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(tsUs(col("ts")).desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy("user_id")
  }

  /** A5+A6 (dashboard/dax-measures:2-12): global scalar measures. */
  private def a5GlobalMeasures(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      max(col("value")).as("max_value"),
      r6(avg(col("value"))).as("avg_value"),
      max(tsUs(col("ts"))).as("max_ts_us"))

  /** A7 (dashboard/dax-measures:15-24): two-level aggregate — average and
    * median over per-group maxima. The median leg rides
    * [[exactMedians]]' distributed value grid (the buffering `median`
    * would single-task every user's max — users scale with the corpus);
    * the per-user max frame is pinned so the avg and median branches
    * share ONE events shuffle (CacheManager dedups the pin across bench
    * passes, and the entry is context-stop released).
    */
  private def a7TwoLevel(s: SparkSession, d: String): DataFrame = {
    val mx = Tables.events(s, d)
      .groupBy("user_id").agg(max(col("value")).as("mx")).pinned()
    mx.agg(r6(avg(col("mx"))).as("avg_user_max"))
      .crossJoin(broadcast(exactMedians(mx, Seq("mx" -> "median_user_max"))))
  }

  /** A8 (dashboard/dax-measures:27-33): conditional-count ratio. */
  private def a8CondRatio(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      r6(avg(when(col("value") < 30, 1.0).otherwise(0.0))).as("critical_pct"),
      sum(when(col("value") < 30, 1L).otherwise(0L)).as("critical_n"))

  /** A9 (dashboard/dax-measures:52-53): population vs sample stddev. */
  private def a9Stddev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).agg(
      r6(stddev_pop(col("value"))).as("sd_pop"),
      r6(stddev_samp(col("value"))).as("sd_samp"),
      r6(var_pop(col("value"))).as("var_p"))

  /** A10 (scripts/ml_pipeline_gpu.py:795-816): grouped metric rollup with
    * post-agg sqrt (RMSE shape), ordered by error.
    */
  private def a10MetricRollup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r6(avg(abs(col("value") - 100))).as("mae_vs_100"),
        r6(sqrt(avg(pow(col("value") - 100, 2)))).as("rmse_vs_100"))
      .orderBy("event_type")

  /** A11 (dashboard/dax-measures:62-72): unweighted average of per-group
    * averages vs the global average (DAX filter-context semantics).
    */
  private def a11AvgOfAvgs(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val perLang = doc.groupBy("lang").agg(avg(col("n_chars")).as("lang_avg"))
      .agg(r6(avg(col("lang_avg"))).as("avg_of_lang_avgs"))
    val global = doc.agg(r6(avg(col("n_chars"))).as("global_avg"))
    perLang.crossJoin(global)
  }

  /** A12 (scripts/ml_pipeline.py:443-445): RMSE / MAE / R² of a predictor
    * (per-user mean) against observed values — metrics as pure aggregates.
    */
  private def a12EvalMetrics(s: SparkSession, d: String): DataFrame = {
    val wp = Window.partitionBy("user_id")
    val base = Tables.events(s, d)
      .select(col("value").as("t"), avg(col("value")).over(wp).as("p"))
    // Global mean as a broadcast 1-row stats frame, not an unpartitioned
    // window (which would funnel 100 TB through a single partition).
    val scored = base.crossJoin(broadcast(base.agg(avg(col("t")).as("tbar"))))
    scored.agg(
      r6(sqrt(avg(pow(col("t") - col("p"), 2)))).as("rmse"),
      r6(avg(abs(col("t") - col("p")))).as("mae"),
      r6(lit(1.0) - sum(pow(col("t") - col("p"), 2)) /
        sum(pow(col("t") - col("tbar"), 2))).as("r2"))
  }

  /** Per-key sort-state bound under which a single window task is the
    * RIGHT plan for a prefix sum / quantile grid at any corpus scale:
    * 4M cells ≈ ~100 MB of spillable sort state. Shared by
    * [[rangeCumsum]]'s runtime adaptive switch and [[gridQuantiles]]'.
    */
  private[graft] val CumsumSingleSortMaxCells = 4L * 1024 * 1024

  /** Largest per-key cell count of a (pinned) grid — the one number
    * the adaptive plan choice needs; an empty grid reads 0. Shared
    * with [[graft.plans.GridOrderStatsRule]]'s rewrite.
    */
  private[graft] def maxCellsPerKey(cnt: DataFrame, keys: Seq[String]): Long =
    cnt.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_cells"))
      .agg(coalesce(max("n_cells"), lit(0L)))
      .collect().head.getLong(0)

  /** The adaptive-cumsum plan decision, MEMOIZED per canonicalized grid
    * plan ([[graft.ContextCaches.decideOnce]]): the probe is a blocking
    * collect(), and [[graft.plans.GridOrderStatsRule]] calls it from
    * the optimizer thread — un-memoized, every compile/explain of a
    * percentile query re-ran a nested cluster job (r15 ADVICE medium
    * item). The library callers gain too: warm re-executions of the
    * same query skip the probe job entirely. Within a session the
    * decided grid is immutable (it reads the same pinned collapse);
    * a different data dir or key set is a different memo key.
    */
  private[graft] def gridIsBounded(cnt: DataFrame, keys: Seq[String]): Boolean =
    graft.ContextCaches.decideOnce(cnt, "maxCells:" + keys.mkString(","))(
      maxCellsPerKey(cnt, keys)) <= CumsumSingleSortMaxCells

  /** Two-phase range-partitioned prefix sum over a distinct-value grid:
    * returns `counts` (key columns, `v`, `c`) with the per-key cumulative
    * count `cum` — the same value `sum(c) OVER (PARTITION BY keys ORDER
    * BY v)` yields, without that window's fatal shape. A one-partition-
    * per-key window sorts each key's ENTIRE grid in one task; for a
    * continuous measure the grid approaches the row count (sf0.1
    * lineitem: 583k distinct `l_extendedprice` in 600k rows), so at
    * 100 TB that task is the job.
    *
    * Phase 1 splits each key's grid into `buckets` spans at sample-
    * quantile boundaries computed over the GRID (unweighted by `c` —
    * the cumsum's cost is per grid cell, so cells are what need
    * balancing), and cumsums locally within each (key, bucket) span —
    * parallel across spans. Phase 2 cumsums the per-span totals (a
    * keys × buckets frame — tiny by construction) and broadcasts each
    * span's starting offset back. Counts are integral, so the split sum
    * is bit-identical to the single-window form. Boundary assignment is
    * any deterministic monotone rule; `v > boundary` sends boundary-
    * equal values left. A key whose sample yields fewer boundaries than
    * requested (tiny grids) just leaves spans empty.
    *
    * Boundaries come from a deterministic md5-hash sample of ~128
    * cells per span, so a single outlier stretching the value range
    * cannot collapse every cell into one span the way a uniform
    * [min, max] split would (heavy range skew recreates exactly the
    * single-task sort this two-phase form exists to delete). The
    * sample must be DETERMINISTIC, not `percentile_approx`: `bucketed`
    * is referenced by both the local-cumsum and the offsets branch, and
    * a sketch whose merge is partition-order-sensitive could assign a
    * cell different buckets in the two evaluations, silently corrupting
    * the sum. md5-of-value sampling + a sort over the (distinct by
    * construction) sampled values is bit-stable however many times the
    * subplan runs. The per-key boundary-selection sort is over the
    * SAMPLE (~buckets·128 values regardless of grid size), not the
    * grid, so its aggregate state is bounded.
    *
    * `buckets = 1` short-circuits to the plain one-window form — the
    * right shape when the caller can PROVE the grid bounded by the
    * measure's resolution (an 11-value discount ladder, cent-granular
    * prices ≤ ~10⁷ cells): three extra exchanges buy nothing against a
    * provably small sort, locally or at 100 TB.
    */
  private[graft] def rangeCumsum(counts: DataFrame, keys: Seq[String],
      buckets: Int = 32, pin: Boolean = true,
      adaptive: Boolean = true): DataFrame = {
    def oneWindow(c: DataFrame) = c.withColumn("cum", sum(col("c")).over(
      Window.partitionBy(keys.map(col): _*).orderBy("v")))
    if (buckets == 1) return oneWindow(counts)
    // Pin the grid: its consumers (cell count for the sample fraction,
    // the sample itself, the local cumsum, the span offsets, callers'
    // group totals) each prune different columns, so their exchanges
    // are NOT identical subtrees and exchange reuse cannot dedupe them
    // — unpinned, the scan+collapse under `counts` executes once PER
    // CONSUMER (the round-10 p15_winsorize plan showed five lineitem
    // scans). One cache entry of grid-sized (v, c) rows replaces them;
    // CacheManager plan-matching routes every reference here AND in
    // the caller (same canonical plan) through it. `pin = false` is for
    // callers that compile plans repeatedly (the GridOrderStatsRule
    // rewrite), where per-query cache entries would accumulate for the
    // context lifetime.
    val cnt = if (pin) counts.pinned() else counts
    // ADAPTIVE (r15, guide §1.2/§2.4 — choose the distributed
    // algorithm from the DATA, not a constant): the two-phase form
    // exists solely so no single task ever sorts a corpus-sized grid.
    // When the measured grid is bounded, the plain one-window form is
    // strictly better — it deletes the sample aggregate, two broadcast
    // joins and the offsets window (4 exchanges) that phase-splitting
    // costs. The bound is per-KEY cells ≤ [[CumsumSingleSortMaxCells]]
    // (4M cells ≈ ~100 MB of sort state — a bounded, spillable window
    // task at ANY corpus scale, the same argument the buckets = 1
    // short-circuit's callers make by proof); a corpus whose grid
    // outgrows it flips back to the two-phase plan at runtime, exactly
    // like AQE's size-based plan choices. The decision costs one
    // aggregate over the just-pinned grid (the pin was being
    // materialized for the two-phase consumers anyway), MEMOIZED per
    // grid plan ([[gridIsBounded]]), so it is only made on the
    // `pin = true` path; both forms produce bit-identical `cum`
    // (integral counts, exact arithmetic). `adaptive = false` forces
    // the two-phase plan WITHOUT giving up the pin — before r16 the
    // only way to force it was `pin = false`, conflating the plan-
    // choice and caching knobs (r15 ADVICE low item).
    if (pin && adaptive && gridIsBounded(cnt, keys))
      return oneWindow(cnt)
    val nc = cnt.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_cells"))
    val target = buckets * 128
    // Uniform-in-[0,1) deterministic hash of the value: md5 low 32 bits.
    val u = conv(substring(md5(col("v").cast("string")), 25, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    // One bounded aggregate turns the sample into per-key boundaries:
    // collect_list state is capped by the sample size (~target values
    // per key however large the grid), and the sample quantiles are
    // read straight out of the sorted array — no window over the
    // sample, no second aggregate. Sub-sample duplicate indices (grids
    // smaller than the bucket count) just repeat a boundary, which
    // leaves that span empty.
    val bnds = cnt.join(broadcast(nc), keys)
      .filter(u < lit(target.toDouble) / col("n_cells"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("v").cast("double"))).as("smp"))
      .select((keys.map(col) :+ expr(
        s"""transform(sequence(1, ${buckets - 1}),
           |  i -> element_at(smp, greatest(1,
           |         cast(i * size(smp) / $buckets as int))))
           |""".stripMargin).as("bnds")): _*)
    val bucketed = cnt.join(broadcast(bnds), keys, "left")
      .withColumn("bkt", when(col("bnds").isNull, lit(0)).otherwise(
        aggregate(col("bnds"), lit(0),
          (acc, b) => acc + (col("v") > b).cast("int"))))
      .drop("bnds")
    val loc = bucketed.withColumn("loc", sum(col("c")).over(
      Window.partitionBy((keys :+ "bkt").map(col): _*).orderBy("v")))
    val offsets = bucketed
      .groupBy((keys :+ "bkt").map(col): _*).agg(sum("c").as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.partitionBy(keys.map(col): _*).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("bc")
    loc.join(broadcast(offsets), keys :+ "bkt")
      .withColumn("cum", col("loc") + col("off"))
      .drop("bkt", "loc", "off")
  }

  /** Distributed exact medians of several columns in one pass, returned
    * as a single row with the given aliases.
    *
    * Spark's exact `median`/`percentile` aggregate buffers EVERY input
    * value in one reducer per group — a global median over 100 TB is a
    * single-task OOM by construction. This is the scale form: values go
    * to long format (k = column alias), `groupBy(k, v).count()` collapses
    * the data to the DISTINCT VALUE GRID with a map-side-combinable
    * count, and a per-k cumulative-count window over the sorted grid
    * locates the two middle order statistics; their mean is the
    * interpolated median (ties resolved by the grid itself — equal
    * values are one row with multiplicity). The cumsum itself runs as
    * [[rangeCumsum]]'s two-phase range-partitioned prefix sum, so even a
    * genuinely continuous column whose grid approaches the row count
    * (sf0.1 `l_extendedprice`: 583k distinct in 600k rows) never lands
    * in a single sort task; the r6 rounding absorbs the ulp difference
    * between (a+b)/2 and DuckDB's a + 0.5·(b−a) interpolation. Nulls are
    * excluded, matching both engines' aggregate semantics.
    */
  private[graft] def exactMedians(df: DataFrame,
      cols: Seq[(String, String)], buckets: Int = 32): DataFrame = {
    val long = df.select(explode(array(cols.map { case (c, a) =>
        struct(lit(a).as("k"), col(c).cast("double").as("v")) }: _*)).as("e"))
      .select(col("e.k").as("k"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
    val counts = long.groupBy("k", "v").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("k").agg(sum("c").as("n"))
    val cum = rangeCumsum(counts, Seq("k"), buckets).join(broadcast(tot), "k")
    // 1-based middle ranks: lo = (n+1) div 2, hi = (n+2) div 2 (equal
    // when n is odd). A grid row covers rank r iff cum-c < r <= cum;
    // each covered rank contributes its value once, so sum/2 is the
    // interpolated median whether one row covers both ranks or two do.
    val contrib = Seq("(n + 1) div 2", "(n + 2) div 2").map(r =>
      when(col("cum") - col("c") < expr(r) && col("cum") >= expr(r),
        col("v")).otherwise(lit(0.0))).reduce(_ + _)
    val med = cum.withColumn("contrib", contrib)
      .groupBy("k").agg((sum(col("contrib")) / 2).as("med"))
    val aggs = cols.map { case (_, a) =>
      r6(min(when(col("k") === a, col("med")))).as(a) }
    med.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** Grouped exact interpolated quantiles (quantile_cont semantics) on
    * the same distributed value grid as [[exactMedians]]: one
    * `groupBy(keys, v).count()` collapse, one per-group cumsum over the
    * sorted grid, then each requested p reads its two bracketing order
    * statistics out of the cumulative counts — fractional rank
    * rf = 1 + p·(n−1), contribution v·(1−frac) at floor(rf) and v·frac
    * at ceil(rf) (one row may cover both; the weights then sum to 1).
    * Replaces the buffering `percentile` aggregate, whose per-group
    * value list is a single-task OOM once any one group reaches
    * executor-memory scale; here per-group state is the distinct value
    * grid only, and the cumsum is [[rangeCumsum]]'s two-phase
    * range-partitioned prefix sum (no per-group single sort task even
    * when the grid approaches the data). floor/frac are computed from
    * the same 1 + p·(n−1)
    * double both engines evaluate, and r6 absorbs terminal ulp drift.
    *
    * A group whose value column is entirely NULL still appears in the
    * output, with NULL quantiles — the replaced `percentile` aggregate's
    * (and the DuckDB oracle's) row set. The null filter only prunes the
    * grid, so the group list comes from BEFORE it and the results
    * null-safe-left-join back onto it.
    *
    * `lowCardGroups` (default true) PRECONDITION: the per-group frames
    * (`tot`, the quantile result) have one row per GROUP, and the
    * default broadcasts them — correct and fastest when the grouping
    * keys are low-cardinality (every current caller: flags, segments,
    * months). A caller grouping by a high-cardinality key (user ids,
    * order keys) must pass `lowCardGroups = false`: broadcasting a
    * group-cardinality frame there would collect every group's
    * quantiles to the driver — at 100 TB an OOM — where the plain
    * shuffled join these fall back to is the right plan.
    */
  private[graft] def gridQuantiles(df: DataFrame, keys: Seq[String],
      valueCol: String, ps: Seq[(Double, String)],
      lowCardGroups: Boolean = true): DataFrame = {
    def perGroup(f: DataFrame) = if (lowCardGroups) broadcast(f) else f
    val proj = df
      .select((keys.map(col) :+ col(valueCol).cast("double").as("v")): _*)
    // ONE scan: the collapse keeps NULL-v cells so the full group list
    // (incl. all-NULL groups) reads off the same pinned grid — r10's
    // separate allKeys distinct() re-scanned the raw input just for the
    // group list, a whole extra scan+shuffle charged to every caller.
    // The pin moves HERE (pin = false below) so rangeCumsum's consumers
    // and the allKeys branch all share the one cache entry.
    val gridAll = proj
      .groupBy((keys :+ "v").map(col): _*).agg(count(lit(1)).as("c"))
      .pinned()
    val allKeys = gridAll.select(keys.map(col): _*).distinct()
    val counts = gridAll.filter(col("v").isNotNull)
    val tot = counts.groupBy(keys.map(col): _*).agg(sum("c").as("n"))
    // Same runtime-adaptive plan choice as [[rangeCumsum]]'s pinned
    // path (the decision reads the pinned gridAll, so it costs one
    // aggregate over cache): a bounded grid takes the plain one-window
    // cumsum, a corpus-sized one the two-phase split.
    val cum = rangeCumsum(counts, keys, pin = false,
        buckets = if (gridIsBounded(counts, keys)) 1 else 32)
      .join(perGroup(tot), keys)
    val qs = ps.map { case (p, alias) =>
      val rf = lit(1.0) + lit(p) * (col("n") - 1).cast("double")
      val rlo = floor(rf)
      val frac = rf - rlo
      val covers = (r: Column) =>
        (col("cum") - col("c")).cast("double") < r && col("cum") >= r
      r6(sum(
        when(covers(rlo), col("v") * (lit(1.0) - frac)).otherwise(lit(0.0)) +
          when(frac > 0 && covers(rlo + 1), col("v") * frac)
            .otherwise(lit(0.0)))).as(alias)
    }
    val res = cum.groupBy(keys.map(col): _*).agg(qs.head, qs.tail: _*)
    // <=> join keeps any NULL group key working like groupBy's null
    // group; both sides are group-cardinality frames, so the quantile
    // side broadcasts (under the lowCardGroups precondition above).
    val resB = perGroup(res)
    val cond = keys.map(k => allKeys(k) <=> resB(k)).reduce(_ && _)
    allKeys.join(resB, cond, "left")
      .select(keys.map(allKeys(_)) ++ ps.map { case (_, a) => resB(a) }: _*)
  }

  /** A13 (scripts/ml_pipeline.py:238): exact column medians in one pass
    * — via [[exactMedians]]' distributed value-grid plan rather than the
    * single-reducer buffering `median` aggregate.
    */
  private def a13Medians(s: SparkSession, d: String): DataFrame =
    // spreadScan (r16 plan audit): the ×3 explode (600k → 1.8M rows)
    // and the (k, v) grid-collapse partial both ran inside the 1-task
    // single-split scan stage. Projected to the three measures first so
    // the spread exchange carries 3 columns, not the full row.
    exactMedians(spreadScan(Tables.lineitem(s, d)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      col("l_extendedprice")), Seq(
      "l_quantity" -> "med_qty",
      "l_extendedprice" -> "med_price",
      "l_discount" -> "med_disc"))

  /** Hierarchical rollup (extension beyond the reference's flat groups):
    * subtotals per (event_type, user_id), per event_type, and grand total
    * in one pass. Null ordering is pinned explicitly — Spark defaults
    * nulls-first, DuckDB nulls-last.
    */
  private def a14Rollup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .rollup("event_type", "user_id")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("user_id").asc_nulls_first)

  /** Cube over two low-cardinality dimensions. */
  private def a15Cube(s: SparkSession, d: String): DataFrame = {
    val bucket = when(col("value") < 50, "lo")
      .when(col("value") < 150, "mid").otherwise("hi")
    Tables.events(s, d)
      .withColumn("vb", bucket)
      .cube("event_type", "vb")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("vb").asc_nulls_first)
  }

  // -------------------------------------------------------- sort / top-k

  /** O1 (scripts/etl_turbofan.py:36): composite sort (with limit so the
    * result is a deterministic prefix).
    */
  private def o1Sort(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber").limit(50)

  /** O2 (scripts/streamlit_dashboard.py:43-49): top-k by recency →
    * TakeOrderedAndProject, no full sort at scale.
    */
  private def o2TopkRecent(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), tsUs(col("ts")).as("ts_us"))
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(100)

  /** O3 (scripts/ml_pipeline.py:476-479): top-n by value. */
  private def o3TopnValue(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("value"))
      .orderBy(col("value").desc, col("event_id")).limit(15)

  // ------------------------------------------------------------- set ops

  /** U1 (scripts/etl_turbofan.py:119-128): append accumulation —
    * unionByName of per-slice frames, then a global rollup proving the
    * union covers the input exactly.
    */
  private def u1Union(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val even = e.filter(col("user_id") % 2 === 0)
    val odd = e.filter(col("user_id") % 2 === 1)
    even.unionByName(odd)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** U2 (scripts/etl_turbofan.py:196-204): set intersection (nations with
    * both customers and suppliers).
    */
  private def u2Intersect(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** Set difference: nations with customers but no suppliers. */
  private def u3Except(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  // ------------------------------------------- scalar function surface

  /** §2.9 string functions: lower/upper/substring/split/concat_ws/
    * startswith/regex.
    */
  private def f1String(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      lower(col("p_name")).as("name_lower"),
      upper(col("p_brand")).as("brand_upper"),
      substring(col("p_type"), 1, 5).as("type_pfx"),
      element_at(split(col("p_name"), " "), 1).as("first_word"),
      size(split(col("p_name"), " ")).as("n_words"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      col("p_name").startsWith("a").as("starts_a"),
      col("p_type").rlike("[0-9]").as("has_digit"))
      .orderBy("p_partkey")

  /** §2.9 math functions: sqrt/ln/exp/abs/pow on order totals. */
  private def f2Math(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      r6(sqrt(col("o_totalprice"))).as("sqrt_price"),
      r6(log(col("o_totalprice"))).as("ln_price"),
      r6(exp(col("o_totalprice") / 100000)).as("exp_scaled"))
      .orderBy("o_orderkey")

  /** §2.9 date functions: extract + format + grouped monthly rollup. */
  private def f3Date(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_totalprice"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("ym")

  /** JSON field extraction from the events props column (semi-structured
    * source surface): parse, cast, aggregate by extracted value.
    */
  private def f4Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy(col("k_mod").asc_nulls_first)

  /** Approximate distinct (HLL) vs exact — the 100 TB cardinality
    * estimator. The HLL estimates themselves are engine-specific (no
    * cross-engine oracle can pin them), so the query emits the EXACT
    * distinct counts plus per-estimate bound flags asserting the HLL
    * contract — |approx − exact| ≤ 3×rsd×exact (3σ of the target
    * relative standard deviation: 15% at Spark's default rsd 0.05, 6%
    * at the explicit 0.02) — and the DuckDB oracle checks the exact
    * counts value-for-value with the flags pinned TRUE. Measured
    * errors on this corpus: user_id ≤ 6.7% (sf0.1; 0–0.7% below),
    * value ≤ 2.8% — all comfortably inside the bound, so a sketch
    * regression (wrong hash width, broken merge) flips a flag while
    * ordinary HLL variance never does. Everything stays deterministic:
    * Spark's HLL++ is hash-based, so the flags are stable per corpus.
    */
  private def a16ApproxDistinct(s: SparkSession, d: String): DataFrame =
    // No spreadScan (r16, measured): parallelizing the Expand(×3)
    // partial behind a user_id spread read 1.49/1.50s vs 1.03 baseline
    // in two subset runs — the raw-row exchange the spread adds costs
    // more than the 1-core partial it parallelizes (the HLL registers
    // merge cheaply; the distinct rewrite's partial is hash-build only).
    Tables.events(s, d).agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("value")).as("exact_values"),
        approx_count_distinct(col("user_id")).as("au"),
        approx_count_distinct(col("value"), 0.02).as("av"))
      .select(col("exact_users"), col("exact_values"),
        (abs(col("au") - col("exact_users")) <=
          col("exact_users").cast("double") * 0.15).as("approx_users_ok"),
        (abs(col("av") - col("exact_values")) <=
          col("exact_values").cast("double") * 0.06).as("approx_values_ok"))

  /** A25: grouped exact mode (most frequent value, ties to the smallest)
    * — on the same distinct-value grid as [[exactMedians]]: the
    * `groupBy(flag, v).count()` collapse combines map-side, and the
    * arg-max over the grid is a plain aggregate (`max(struct(n, -v))` —
    * lexicographic struct order gives max count, then min value), so no
    * per-group value buffering and no window anywhere. Spark's own
    * `mode()` aggregate buffers a value→count map per group; this form's
    * reducer state is one struct.
    */
  private def a25Mode(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
      .groupBy("l_returnflag")
      .agg(max(struct(col("n"), (-col("l_quantity")).as("nq"))).as("m"))
      .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"),
        col("m.n").as("mode_n"))
      .orderBy("l_returnflag")

  /** A26: skewness and excess kurtosis via explicit TWO-PASS central
    * moments — mean first, then decimal-accumulated Σ(x−μ)^{2,3,4}.
    * The one-pass raw-moment form (m3 = s3/n − 3μs2/n + 2μ³) cancels
    * catastrophically once μ dwarfs the central deviations, and
    * Spark's own `skewness`/`kurtosis` use bias conventions that vary
    * across engines — stating the estimator as explicit moments makes
    * the number portable and the oracle exact. Both passes are plain
    * combinable aggregates (the first broadcasts one row back), so the
    * shape is two map-side-combined scans at any scale.
    */
  private def a26Moments(s: SparkSession, d: String): DataFrame = {
    val x = Tables.events(s, d)
      .select(col("value").as("x")).filter(col("x").isNotNull)
    val mu = x.agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
      count(lit(1))).as("mu"))
    def cm(k: Int) =
      sum(pow(col("x") - col("mu"), k).cast("decimal(38,18)"))
        .cast("double")
    x.crossJoin(broadcast(mu))
      .agg(count(lit(1)).as("n"), cm(2).as("s2"), cm(3).as("s3"),
        cm(4).as("s4"))
      .select(col("n"),
        r6((col("s3") / col("n")) / pow(col("s2") / col("n"), 1.5))
          .as("skew"),
        r6((col("s4") / col("n")) / pow(col("s2") / col("n"), 2) - 3)
          .as("kurt"))
  }

  /** A27: Gini coefficient of per-user event volume — the concentration
    * statistic behind "what share of traffic is bots". The textbook
    * form ranks every user globally (a corpus-sized single-task sort);
    * this one needs only the VALUE GRID: ties occupy a contiguous rank
    * run, so each distinct volume's rank-weighted mass is
    * v·(2·cum−c+1)·c/2 straight from [[rangeCumsum]]'s cumulative
    * counts, and G = 2·Σ/(n·S) − (n+1)/n falls out of one decimal-
    * accumulated aggregate over the grid.
    */
  private def a27Gini(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).cast("double").as("v"))
    val counts = per.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("g", lit(1))
    val dec = (c: Column) => sum(c.cast("decimal(38,8)")).cast("double")
    rangeCumsum(counts, Seq("g"))
      .agg(sum(col("c")).as("n"), dec(col("v") * col("c")).as("s"),
        dec(col("v") * (lit(2) * col("cum") - col("c") + 1) * col("c") / 2)
          .as("rs"))
      .select(col("n"),
        r6(lit(2) * col("rs") / (col("n") * col("s")) -
          (col("n") + lit(1.0)) / col("n")).as("gini"))
  }

  /** P15: winsorization — clamp a measure into its [p01, p99] band, the
    * outlier repair a feature pipeline applies before scaling. The
    * thresholds come from [[gridQuantiles]] (quantile_cont semantics on
    * the distributed value grid — not a buffering percentile, not an
    * approximation) and broadcast as one row; the clamp itself is
    * rowwise codegen. Thresholds are r6-rounded on BOTH engines before
    * comparing, so the band edges are bit-identical.
    */
  private def p15Winsorize(s: SparkSession, d: String): DataFrame =
    p15Body(s, d)
      // Lazy checkpoint BEFORE the output-contract sort (the w22
      // pattern): the range sampling otherwise runs the 600k-row clamp
      // chain a second time for boundaries. Same rows, same order.
      // 2.73 → 2.44 s measured this container.
      .localCheckpoint(false)
      .orderBy("l_orderkey", "l_linenumber")

  /** The pre-checkpoint winsorize body — split out so the grid-reuse
    * plan spec can still count the pinned grid's cache reads (the
    * checkpoint truncates the registry query's visible plan to a
    * LogicalRDD leaf).
    */
  private[graft] def p15Body(s: SparkSession, d: String): DataFrame = {
    // Spread (r16): the executed plan showed the clamp chain — scan +
    // broadcast-join thresholds + round/least/greatest project — running
    // as ONE task over the single-split scan, and the output sort's
    // range-boundary sampling ran that same 1-task stage a second time.
    // Spread, the clamp runs 32-way and the sampling reads the already-
    // materialized AQE stage. (The r15 "residual is the contract sort"
    // note under-attributed this: the sort's INPUT stage was serial.)
    val li = spreadScan(Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      col("l_orderkey"))
    val t = gridQuantiles(li.withColumn("g", lit(1)), Seq("g"),
      "l_extendedprice", Seq(0.01 -> "p01", 0.99 -> "p99")).drop("g")
    li.crossJoin(broadcast(t))
      .select(col("l_orderkey"), col("l_linenumber"),
        r6(least(greatest(col("l_extendedprice"), col("p01")), col("p99")))
          .as("price_w"))
  }

  /** A28: weighted median (price level at which half the QUANTITY
    * trades below) — the lower weighted median, smallest value whose
    * cumulative weight reaches W/2. Same grid machinery as the exact
    * medians: weights collapse map-side onto the distinct-value grid,
    * [[rangeCumsum]] accumulates them without a single-task sort, and
    * the answer is one filter + min. Weights here are integral
    * quantities, so the split double sums stay exact.
    */
  private def a28WeightedMedian(s: SparkSession, d: String): DataFrame = {
    // spreadScan keyed on the collapse's own grouping column (r16,
    // guide §2.4): the 583k-cell weight-grid partial otherwise built on
    // one core inside the single-split scan stage; keyed on
    // l_extendedprice the aggregate reuses the spread exchange, so the
    // exchange count is unchanged.
    val counts = spreadScan(Tables.lineitem(s, d)
      .select(col("l_extendedprice"), col("l_quantity")),
      col("l_extendedprice"))
      .groupBy(col("l_extendedprice").as("v"))
      .agg(sum(col("l_quantity")).as("c"))
      .withColumn("g", lit(1))
    val tot = counts.agg(sum(col("c")).as("w_total"))
    rangeCumsum(counts, Seq("g")).crossJoin(broadcast(tot))
      .filter(col("cum") >= col("w_total") / 2)
      .agg(r6(min(col("v"))).as("wmedian"),
        min(col("w_total").cast("bigint")).as("w_total"))
  }

  // ------------------------------------------------------------ registry

  val specs: Seq[QuerySpec] = Seq(
    // The exact counts verify value-for-value; the _ok flags are
    // Spark-side HLL-contract assertions the oracle pins TRUE (see
    // [[a16ApproxDistinct]]): a broken sketch hash-mismatches here.
    QuerySpec("a16_approx_distinct", a16ApproxDistinct _, Oracle(
      """SELECT count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT value) AS exact_values,
        |  TRUE AS approx_users_ok, TRUE AS approx_values_ok
        |FROM events""".stripMargin)),
    QuerySpec("p15_winsorize", p15Winsorize _, Oracle(
      """WITH t AS (SELECT
        |    round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
        |    round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round(least(greatest(l_extendedprice, p01), p99), 6) AS price_w
        |FROM lineitem, t ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("a28_weighted_median", a28WeightedMedian _, Oracle(
      """WITH c AS (SELECT l_extendedprice AS v, sum(l_quantity) AS c
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c),
        |t AS (SELECT sum(c) AS wt FROM c)
        |SELECT round(min(v), 6) AS wmedian,
        |  CAST(min(wt) AS BIGINT) AS w_total
        |FROM w, t WHERE cum >= wt / 2""".stripMargin)),
    QuerySpec("a27_gini", a27Gini _, Oracle(
      """WITH per AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY user_id),
        |c AS (SELECT v, count(*) AS c FROM per GROUP BY v),
        |w AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM c),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, sum(v * c) AS s,
        |    sum(v * (2 * cum - c + 1) * c / 2) AS rs FROM w)
        |SELECT n, round(2 * rs / (n * s) - (n + 1.0) / n, 6) AS gini
        |FROM a""".stripMargin)),
    QuerySpec("a26_moments", a26Moments _, Oracle(
      """WITH m AS (SELECT avg(value) AS mu FROM events
        |  WHERE value IS NOT NULL),
        |s AS (SELECT count(*) AS n,
        |    sum(power(value - mu, 2)) AS s2,
        |    sum(power(value - mu, 3)) AS s3,
        |    sum(power(value - mu, 4)) AS s4
        |  FROM events, m WHERE value IS NOT NULL)
        |SELECT n, round((s3 / n) / power(s2 / n, 1.5), 6) AS skew,
        |  round((s4 / n) / power(s2 / n, 2) - 3, 6) AS kurt FROM s""".stripMargin)),
    QuerySpec("a25_mode", a25Mode _, Oracle(
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity) AS rk FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
        |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("s1_text_scan", s1TextScan _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("s2_indexed_scan", s2IndexedScan _, Oracle(
      """SELECT n_nationkey, n_name,
        |  CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) AS rn
        |FROM nation ORDER BY n_nationkey""".stripMargin)),
    QuerySpec("s3_table_scan", s3TableScan _, Oracle("SELECT * FROM supplier ORDER BY s_suppkey")),
    QuerySpec("p1_project", p1Project _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("p2_cast", p2Cast _, Oracle(
      """SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS custkey_str,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("p4_isin", p4Isin _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_returnflag IN ('A','R') ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("p5_filter", p5Filter _, Oracle(
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type <> 'error' AND value >= 50 AND props IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("p6_const_cols", p6ConstCols _, Oracle(
      """SELECT count(DISTINCT p_brand) AS d_brand, count(DISTINCT p_type) AS d_type,
        |  count(DISTINCT p_size) AS d_size,
        |  count(DISTINCT p_retailprice) AS d_retailprice FROM part""".stripMargin)),
    QuerySpec("p8_impute_median", p8ImputeMedian _, Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  round(coalesce(nullif(l_discount, 0.0),
        |    (SELECT median(nullif(l_discount, 0.0)) FROM lineitem)), 6) AS disc_imputed
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("p9_clamp", p9Clamp _, Oracle(
      """SELECT event_id, round(greatest(value - 100, 0.0), 6) AS clamped
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("p10_arith", p10Arith _, Oracle(
      """SELECT event_id, round(abs(value - 100), 6) AS abs_err,
        |  round(pow(value - 100, 2), 6) AS sq_err,
        |  round(CASE WHEN value <> 0 THEN 100.0 / value END, 6) AS ratio
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("p11_bucket", p11Bucket _, Oracle(
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |  WHEN o_totalprice < 150000 THEN 'mid'
        |  WHEN o_totalprice < 300000 THEN 'high' ELSE 'top' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),
    QuerySpec("j1_broadcast_join", j1BroadcastJoin _, Oracle(
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),
    QuerySpec("j2_semi_join", j2SemiJoin _, Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("j3_anti_join", j3AntiJoin _, Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    QuerySpec("j4_positional_join", j4Positional _, Oracle(
      """WITH r AS (SELECT r_name,
        |    CAST(row_number() OVER (ORDER BY r_regionkey) AS INT) AS rn FROM region),
        |  n AS (SELECT n_name,
        |    CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) AS rn FROM nation)
        |SELECT n.rn AS rn, n_name, r_name FROM n JOIN r ON n.rn = r.rn
        |ORDER BY n.rn""".stripMargin)),
    QuerySpec("a1_group_multi", a1GroupMulti _, Oracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_sum,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("a3_last_per_group", a3LastPerGroup _, Oracle(
      """SELECT user_id, event_id, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin)),
    QuerySpec("a5_global_measures", a5GlobalMeasures _, Oracle(
      """SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types, max(value) AS max_value,
        |  round(avg(value), 6) AS avg_value, max(epoch_us(ts)) AS max_ts_us
        |FROM events""".stripMargin)),
    QuerySpec("a7_two_level", a7TwoLevel _, Oracle(
      """SELECT round(avg(mx), 6) AS avg_user_max,
        |  round(median(mx), 6) AS median_user_max
        |FROM (SELECT user_id, max(value) AS mx FROM events GROUP BY user_id)""".stripMargin)),
    QuerySpec("a8_cond_ratio", a8CondRatio _, Oracle(
      """SELECT round(avg(CASE WHEN value < 30 THEN 1.0 ELSE 0.0 END), 6) AS critical_pct,
        |  CAST(sum(CASE WHEN value < 30 THEN 1 ELSE 0 END) AS BIGINT) AS critical_n
        |FROM events""".stripMargin)),
    QuerySpec("a9_stddev", a9Stddev _, Oracle(
      """SELECT round(stddev_pop(value), 6) AS sd_pop,
        |  round(stddev_samp(value), 6) AS sd_samp,
        |  round(var_pop(value), 6) AS var_p FROM events""".stripMargin)),
    QuerySpec("a10_metric_rollup", a10MetricRollup _, Oracle(
      """SELECT event_type, count(*) AS n,
        |  round(avg(abs(value - 100)), 6) AS mae_vs_100,
        |  round(sqrt(avg(pow(value - 100, 2))), 6) AS rmse_vs_100
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("a11_avg_of_avgs", a11AvgOfAvgs _, Oracle(
      """SELECT (SELECT round(avg(lang_avg), 6) FROM
        |    (SELECT avg(n_chars) AS lang_avg FROM documents GROUP BY lang)
        |  ) AS avg_of_lang_avgs,
        |  (SELECT round(avg(n_chars), 6) FROM documents) AS global_avg""".stripMargin)),
    QuerySpec("a12_eval_metrics", a12EvalMetrics _, Oracle(
      """WITH scored AS (SELECT value AS t,
        |    avg(value) OVER (PARTITION BY user_id) AS p,
        |    avg(value) OVER () AS tbar FROM events)
        |SELECT round(sqrt(avg(pow(t - p, 2))), 6) AS rmse,
        |  round(avg(abs(t - p)), 6) AS mae,
        |  round(1.0 - sum(pow(t - p, 2)) / sum(pow(t - tbar, 2)), 6) AS r2
        |FROM scored""".stripMargin)),
    QuerySpec("a13_medians", a13Medians _, Oracle(
      """SELECT round(median(l_quantity), 6) AS med_qty,
        |  round(median(l_extendedprice), 6) AS med_price,
        |  round(median(l_discount), 6) AS med_disc FROM lineitem""".stripMargin)),
    QuerySpec("a14_rollup", a14Rollup _, Oracle(
      """SELECT event_type, user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP (event_type, user_id)
        |ORDER BY event_type ASC NULLS FIRST, user_id ASC NULLS FIRST""".stripMargin)),
    QuerySpec("a15_cube", a15Cube _, Oracle(
      """SELECT event_type, vb, count(*) AS n
        |FROM (SELECT event_type,
        |  CASE WHEN value < 50 THEN 'lo' WHEN value < 150 THEN 'mid'
        |    ELSE 'hi' END AS vb FROM events)
        |GROUP BY CUBE (event_type, vb)
        |ORDER BY event_type ASC NULLS FIRST, vb ASC NULLS FIRST""".stripMargin)),
    QuerySpec("o1_sort", o1Sort _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 50""".stripMargin)),
    QuerySpec("o2_topk_recent", o2TopkRecent _, Oracle(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us DESC, event_id DESC LIMIT 100""".stripMargin)),
    QuerySpec("o3_topn_value", o3TopnValue _, Oracle(
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id LIMIT 15""".stripMargin)),
    QuerySpec("u1_union", u1Union _, Oracle(
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT * FROM events WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT * FROM events WHERE user_id % 2 = 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("u2_intersect", u2Intersect _, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin)),
    QuerySpec("u3_except", u3Except _, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin)),
    QuerySpec("f1_string", f1String _, Oracle(
      """SELECT p_partkey, lower(p_name) AS name_lower, upper(p_brand) AS brand_upper,
        |  substr(p_type, 1, 5) AS type_pfx,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
        |  p_brand || '-' || p_type AS brand_type,
        |  starts_with(p_name, 'a') AS starts_a,
        |  regexp_matches(p_type, '[0-9]') AS has_digit
        |FROM part ORDER BY p_partkey""".stripMargin)),
    QuerySpec("f2_math", f2Math _, Oracle(
      """SELECT o_orderkey, round(sqrt(o_totalprice), 6) AS sqrt_price,
        |  round(ln(o_totalprice), 6) AS ln_price,
        |  round(exp(o_totalprice / 100000), 6) AS exp_scaled
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec("f3_date", f3Date _, Oracle(
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin)),
    QuerySpec("f4_json", f4Json _, Oracle(
      """SELECT k % 10 AS k_mod, count(*) AS n, min(k) AS k_min, max(k) AS k_max
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events)
        |GROUP BY 1 ORDER BY k_mod ASC NULLS FIRST""".stripMargin)))
}
