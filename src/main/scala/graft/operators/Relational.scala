package graft.operators

import graft._
import graft.plans.ValueGrid
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Relational operator inventory (SURVEY.md §2.1–2.5, §2.7–2.9), expressed
  * as declarative DataFrame plans over the TESTDATA tables so Catalyst
  * keeps pushdown/pruning/broadcast decisions.
  *
  * Naming mirrors the survey: sN scans, pN projections/filters, jN joins,
  * aN aggregations, oN sort/limit, uN set ops, fN scalar-function surface.
  * Each query has a DuckDB oracle twin in [[specs]] with identical output
  * column names; row order is part of the result only under a limit.
  */
object Relational {

  // ---------------------------------------------------------------- scans

  /** S1 (scripts/etl_turbofan.py:10-19): whitespace-text positional scan
    * with numeric coercion. Demonstrated as a lossless roundtrip: serialize
    * lineitem rows to space-separated lines, then parse them back with
    * [[graft.Tables.parseText]], the CMAPSS reader's parser.
    */
  private def s1TextScan(s: SparkSession, d: String): DataFrame = {
    // spreadScan: the serialize→trim→regex-split→try_cast chain is the
    // query's whole cost and otherwise runs inside the single-split
    // scan stage on one core (r15 plan audit).
    val li = spreadScan(Tables.lineitem(s, d), col("l_orderkey"))
    val line = concat_ws(" ", col("l_orderkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    Tables.parseText(li.select(line.as("value")), LineitemTextSchema)
  }

  /** The five lineitem columns [[s1TextScan]] and `io_text_scan` write
    * as text and parse back.
    */
  private[operators] val LineitemTextSchema: StructType = StructType.fromDDL(
    "l_orderkey LONG, l_linenumber INT, l_quantity DOUBLE," +
      " l_extendedprice DOUBLE, l_discount DOUBLE")

  // -------------------------------------------- projections / filters

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

  // --------------------------------------------------------- aggregations

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

  /** Exact medians of several columns in one pass, returned as a single
    * row with the given aliases: the columns go to long format
    * (k = alias) and one keyed [[ValueGrid.percentiles]] pass reads
    * every median. Nulls are excluded, matching both engines' aggregate
    * semantics; an all-NULL column's median is NULL.
    */
  private[graft] def exactMedians(df: DataFrame,
      cols: Seq[(String, String)]): DataFrame = {
    val long = df.select(explode(array(cols.map { case (c, a) =>
        struct(lit(a).as("k"), col(c).cast("double").as("v")) }: _*)).as("e"))
      .select(col("e.k").as("k"), col("e.v").as("v"))
    val med = ValueGrid.percentiles(long, Seq("k"), col("v"), Seq(0.5),
      needAllKeys = false)
    val aggs = cols.map { case (_, a) =>
      r6(min(when(col("k") === a, col("__q0")))).as(a) }
    med.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** Grouped exact interpolated percentiles (the builtin `percentile`'s
    * values and row set, NULL-keyed and all-NULL groups included), r6-
    * rounded, one [[ValueGrid.percentiles]] pass for all of `ps`.
    */
  private[graft] def gridQuantiles(df: DataFrame, keys: Seq[String],
      valueCol: String, ps: Seq[(Double, String)]): DataFrame =
    ValueGrid.percentiles(df, keys, col(valueCol), ps.map(_._1),
        needAllKeys = true)
      .select(keys.map(col) ++ ps.zipWithIndex.map { case ((_, a), i) =>
        r6(col(s"__q$i")).as(a) }: _*)

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

  // -------------------------------------------------------- sort / top-k

  /** O2 (scripts/streamlit_dashboard.py:43-49): top-k by recency →
    * TakeOrderedAndProject, no full sort at scale.
    */
  private def o2TopkRecent(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), tsUs(col("ts")).as("ts_us"))
      .orderBy(col("ts_us").desc, col("event_id").desc).limit(100)

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

  /** §2.9 date functions: extract + format + grouped monthly rollup. */
  private def f3Date(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        col("o_totalprice"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  /** JSON field extraction from the events props column (semi-structured
    * source surface): parse, cast, aggregate by extracted value.
    */
  private def f4Json(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"), max(col("k")).as("k_max"))

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

  /** P15: winsorization — clamp a measure into its [p01, p99] band, the
    * outlier repair a feature pipeline applies before scaling. The
    * thresholds come from [[gridQuantiles]] (exact percentiles on
    * the distributed value grid — not a buffering percentile, not an
    * approximation) and broadcast as one row; the clamp itself is
    * rowwise codegen. Thresholds are r6-rounded on BOTH engines before
    * comparing, so the band edges are bit-identical.
    */
  private def p15Winsorize(s: SparkSession, d: String): DataFrame = {
    // Spread (r16): the executed plan showed the clamp chain — scan +
    // broadcast-join thresholds + round/least/greatest project — running
    // as ONE task over the single-split scan. Spread, the clamp runs
    // in parallel.
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
    QuerySpec.sql("a28_weighted_median",
      """WITH c AS (SELECT l_extendedprice AS v, sum(l_quantity) AS c
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c),
        |t AS (SELECT sum(c) AS wt FROM c)
        |SELECT round(min(v), 6) AS wmedian,
        |  CAST(min(wt) AS BIGINT) AS w_total
        |FROM w, t WHERE cum >= wt / 2""".stripMargin),
    QuerySpec.sql("a27_gini",
      """WITH per AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS v
        |  FROM events GROUP BY user_id),
        |c AS (SELECT v, count(*) AS c FROM per GROUP BY v),
        |w AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM c),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, sum(v * c) AS s,
        |    sum(v * (2 * cum - c + 1) * c / 2) AS rs FROM w)
        |SELECT n, round(2 * rs / (n * s) - (n + 1.0) / n, 6) AS gini
        |FROM a""".stripMargin),
    QuerySpec.sql("a26_moments",
      """WITH m AS (SELECT avg(value) AS mu FROM events
        |  WHERE value IS NOT NULL),
        |s AS (SELECT count(*) AS n,
        |    sum(power(value - mu, 2)) AS s2,
        |    sum(power(value - mu, 3)) AS s3,
        |    sum(power(value - mu, 4)) AS s4
        |  FROM events, m WHERE value IS NOT NULL)
        |SELECT n, round((s3 / n) / power(s2 / n, 1.5), 6) AS skew,
        |  round((s4 / n) / power(s2 / n, 2) - 3, 6) AS kurt FROM s""".stripMargin),
    QuerySpec.sql("a25_mode",
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY n DESC, l_quantity) AS rk FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
        |FROM r WHERE rk = 1""".stripMargin),
    QuerySpec("s1_text_scan", s1TextScan _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec.sql("s2_indexed_scan",
      """SELECT n_nationkey, n_name,
        |  CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) AS rn
        |FROM nation""".stripMargin),
    QuerySpec.sql("s3_table_scan", "SELECT * FROM supplier"),
    QuerySpec.sql("p1_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem""".stripMargin),
    QuerySpec("p2_cast", p2Cast _, Oracle(
      """SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS custkey_str,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QuerySpec.sql("p4_isin",
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        |WHERE l_returnflag IN ('A','R')""".stripMargin),
    QuerySpec.sql("p5_filter",
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type <> 'error' AND value >= 50 AND props IS NOT NULL""".stripMargin),
    QuerySpec.sql("p6_const_cols",
      """SELECT count(DISTINCT p_brand) AS d_brand, count(DISTINCT p_type) AS d_type,
        |  count(DISTINCT p_size) AS d_size,
        |  count(DISTINCT p_retailprice) AS d_retailprice FROM part""".stripMargin),
    QuerySpec.sql("p8_impute_median",
      """SELECT l_orderkey, l_linenumber,
        |  round(coalesce(nullif(l_discount, 0.0),
        |    (SELECT median(nullif(l_discount, 0.0)) FROM lineitem)), 6) AS disc_imputed
        |FROM lineitem""".stripMargin),
    QuerySpec.sql("p9_clamp",
      """SELECT event_id, round(greatest(value - 100, 0.0), 6) AS clamped
        |FROM events""".stripMargin),
    QuerySpec.sql("p10_arith",
      """SELECT event_id, round(abs(value - 100), 6) AS abs_err,
        |  round(pow(value - 100, 2), 6) AS sq_err,
        |  round(CASE WHEN value <> 0 THEN 100.0 / value END, 6) AS ratio
        |FROM events""".stripMargin),
    QuerySpec.sql("p11_bucket",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |  WHEN o_totalprice < 150000 THEN 'mid'
        |  WHEN o_totalprice < 300000 THEN 'high' ELSE 'top' END AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),
    QuerySpec.sql("j1_broadcast_join",
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    QuerySpec.sql("j2_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin),
    QuerySpec.sql("j3_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    QuerySpec.sql("j4_positional_join",
      """WITH r AS (SELECT r_name,
        |    CAST(row_number() OVER (ORDER BY r_regionkey) AS INT) AS rn FROM region),
        |  n AS (SELECT n_name,
        |    CAST(row_number() OVER (ORDER BY n_nationkey) AS INT) AS rn FROM nation)
        |SELECT n.rn AS rn, n_name, r_name FROM n JOIN r ON n.rn = r.rn""".stripMargin),
    QuerySpec.sql("a1_group_multi",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_sum,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS price_sum
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
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
    QuerySpec.sql("a7_two_level",
      """SELECT round(avg(mx), 6) AS avg_user_max,
        |  round(median(mx), 6) AS median_user_max
        |FROM (SELECT user_id, max(value) AS mx FROM events GROUP BY user_id)""".stripMargin),
    // The ratio averages a DOUBLE: a `1.0` literal is DECIMAL in Spark
    // and its decimal average rounds differently from DuckDB's.
    QuerySpec.sql("a8_cond_ratio",
      """SELECT round(avg(CAST(CASE WHEN value < 30 THEN 1 ELSE 0 END AS DOUBLE)), 6)
        |    AS critical_pct,
        |  CAST(sum(CASE WHEN value < 30 THEN 1 ELSE 0 END) AS BIGINT) AS critical_n
        |FROM events""".stripMargin),
    QuerySpec.sql("a9_stddev",
      """SELECT round(stddev_pop(value), 6) AS sd_pop,
        |  round(stddev_samp(value), 6) AS sd_samp,
        |  round(var_pop(value), 6) AS var_p FROM events""".stripMargin),
    QuerySpec.sql("a10_metric_rollup",
      """SELECT event_type, count(*) AS n,
        |  round(avg(abs(value - 100)), 6) AS mae_vs_100,
        |  round(sqrt(avg(pow(value - 100, 2))), 6) AS rmse_vs_100
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec.sql("a11_avg_of_avgs",
      """SELECT (SELECT round(avg(lang_avg), 6) FROM
        |    (SELECT avg(n_chars) AS lang_avg FROM documents GROUP BY lang)
        |  ) AS avg_of_lang_avgs,
        |  (SELECT round(avg(n_chars), 6) FROM documents) AS global_avg""".stripMargin),
    QuerySpec.sql("a12_eval_metrics",
      """WITH scored AS (SELECT value AS t,
        |    avg(value) OVER (PARTITION BY user_id) AS p,
        |    avg(value) OVER () AS tbar FROM events)
        |SELECT round(sqrt(avg(pow(t - p, 2))), 6) AS rmse,
        |  round(avg(abs(t - p)), 6) AS mae,
        |  round(1.0 - sum(pow(t - p, 2)) / sum(pow(t - tbar, 2)), 6) AS r2
        |FROM scored""".stripMargin),
    QuerySpec("a13_medians", a13Medians _, Oracle(
      """SELECT round(median(l_quantity), 6) AS med_qty,
        |  round(median(l_extendedprice), 6) AS med_price,
        |  round(median(l_discount), 6) AS med_disc FROM lineitem""".stripMargin)),
    QuerySpec.sql("a14_rollup",
      """SELECT event_type, user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP (event_type, user_id)""".stripMargin),
    QuerySpec.sql("a15_cube",
      """SELECT event_type, vb, count(*) AS n
        |FROM (SELECT event_type,
        |  CASE WHEN value < 50 THEN 'lo' WHEN value < 150 THEN 'mid'
        |    ELSE 'hi' END AS vb FROM events)
        |GROUP BY CUBE (event_type, vb)""".stripMargin),
    QuerySpec.sql("o1_sort",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 50""".stripMargin),
    QuerySpec("o2_topk_recent", o2TopkRecent _, Oracle(
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us DESC, event_id DESC LIMIT 100""".stripMargin)),
    QuerySpec.sql("o3_topn_value",
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id LIMIT 15""".stripMargin),
    QuerySpec.sql("u1_union",
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT * FROM events WHERE user_id % 2 = 0
        |  UNION ALL
        |  SELECT * FROM events WHERE user_id % 2 = 1)
        |GROUP BY event_type""".stripMargin),
    QuerySpec.sql("u2_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier""".stripMargin),
    QuerySpec.sql("u3_except",
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier""".stripMargin),
    QuerySpec("f1_string", f1String _, Oracle(
      """SELECT p_partkey, lower(p_name) AS name_lower, upper(p_brand) AS brand_upper,
        |  substr(p_type, 1, 5) AS type_pfx,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
        |  p_brand || '-' || p_type AS brand_type,
        |  starts_with(p_name, 'a') AS starts_a,
        |  regexp_matches(p_type, '[0-9]') AS has_digit
        |FROM part ORDER BY p_partkey""".stripMargin)),
    QuerySpec.sql("f2_math",
      """SELECT o_orderkey, round(sqrt(o_totalprice), 6) AS sqrt_price,
        |  round(ln(o_totalprice), 6) AS ln_price,
        |  round(exp(o_totalprice / 100000), 6) AS exp_scaled
        |FROM orders""".stripMargin),
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
