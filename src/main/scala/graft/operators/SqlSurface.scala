package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-entry parity (SURVEY §3.2): SQL texts run by [[Tables.sql]] — the
  * dbt feature model, the SQL-only shapes (LATERAL, GROUPING SETS,
  * FILTER, EXISTS, recursive CTE, UNPIVOT) and a closed-form OLS
  * regression (the reference's ML-metrics surface as pure aggregates).
  * Most texts are their oracle's own; the three private builds below
  * keep a Spark-dialect text beside a DuckDB one.
  */
object SqlSurface {

  /** The dbt fct_cycles_features model shape
    * (turbine_etl_dbt/models/fct_cycles_features.sql:10-50) as literal
    * SQL — the Jinja sensor loop becomes a generated column
    * list; output is identical to the DataFrame-API wf_features, proving
    * both entry points share semantics (and one WindowExec plan).
    */
  private def dbtFeatures(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT user_id, event_id,
        |  round(max(value) OVER (PARTITION BY user_id) - value, 6) AS rul,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY unix_micros(ts), event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mean5_value,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY unix_micros(ts), event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS mean20_value,
        |  round(value - lag(value, 1) OVER (PARTITION BY user_id
        |    ORDER BY unix_micros(ts), event_id), 6) AS d_value,
        |  round(CASE WHEN stddev_pop(value) OVER (PARTITION BY user_id) <> 0
        |    THEN (value - avg(value) OVER (PARTITION BY user_id))
        |         / stddev_pop(value) OVER (PARTITION BY user_id) END, 6) AS z_value
        |FROM events""".stripMargin)

  /** Recursive-CTE date spine (the dbt calendar-spine pattern): generate
    * every month in the order-date range, then left-join monthly counts
    * so gap months surface as zeros. 80 iterations — comfortably inside
    * Spark's default recursion level limit of 100.
    */
  private def dateSpine(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """WITH RECURSIVE m(mo) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT add_months(mo, 1) FROM m
        |  WHERE mo < DATE '2001-07-01'
        |)
        |SELECT date_format(mo, 'yyyy-MM') AS month,
        |  coalesce(n, 0) AS n_orders
        |FROM m LEFT JOIN (
        |  SELECT trunc(o_orderdate, 'MM') AS om, count(*) AS n
        |  FROM orders GROUP BY trunc(o_orderdate, 'MM')
        |) o ON mo = o.om""".stripMargin)

  // One rule-installed session clone per context, so sql_grid_mixed
  // exercises GridOrderStatsRule's rewrite without mutating the shared
  // session's optimizer (a clone shares SparkContext/warehouse but owns
  // its experimental optimizations). Evicted with the context like the
  // other per-context caches.
  private val ruleSessions = scala.collection.concurrent.TrieMap
    .empty[org.apache.spark.SparkContext, SparkSession]
  private def ruleSession(s: SparkSession): SparkSession = {
    ContextCaches.evictOnStop(s.sparkContext, "rule-sessions")(() =>
      ruleSessions.remove(s.sparkContext))
    ruleSessions.getOrElseUpdate(s.sparkContext, {
      val c = org.apache.spark.sql.graftglue.Glue.cloneSession(s)
      graft.plans.GridOrderStatsRule.install(c)
      c
    })
  }

  /** Mixed order-statistic + plain aggregates in ONE GROUP BY — the
    * real-BI shape (`median(x)` next to `count(*)`/`sum`) that
    * [[graft.plans.GridOrderStatsRule]] rewrites into the grid plan
    * with a residual-Aggregate join-back, reading the fact table ONCE
    * through the shared pinned projection. Declared as a registry query
    * so the rewrite path gets a standing oracle check and a growth-gate
    * measurement, not just specs. Decimal sum + round(…,6) keep the
    * comparison engine-deterministic (the rule's interpolation mirrors
    * the builtin bit-for-bit; round absorbs the builtin-vs-DuckDB ulp).
    */
  private def gridMixedSql(s: SparkSession, d: String): DataFrame =
    Tables.sql(ruleSession(s), d,
      """SELECT l_returnflag,
        |  round(median(l_quantity), 6) AS med_qty,
        |  round(percentile(l_extendedprice, 0.9), 6) AS p90_price,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec.sql("sql_lateral",
      """SELECT u.user_id, s.event_id, s.value
        |FROM (SELECT DISTINCT user_id FROM events) u,
        |LATERAL (SELECT event_id, round(value, 6) AS value FROM events e
        |         WHERE e.user_id = u.user_id
        |         ORDER BY e.value DESC, event_id LIMIT 2) s""".stripMargin),
    QuerySpec("sql_date_spine", dateSpine _, Oracle(
      """WITH RECURSIVE m(mo) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT CAST(mo + INTERVAL 1 MONTH AS DATE) FROM m
        |  WHERE mo < DATE '2001-07-01'
        |)
        |SELECT strftime(mo, '%Y-%m') AS month,
        |  coalesce(n, 0) AS n_orders
        |FROM m LEFT JOIN (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
        |    count(*) AS n
        |  FROM orders GROUP BY 1
        |) o ON mo = o.om
        |ORDER BY month""".stripMargin)),
    // Same semantics as wf_features — the oracle is shared by construction.
    QuerySpec("sql_dbt_features", dbtFeatures _, Oracle(Windows.featuresSql)),
    QuerySpec.sql("sql_grouping_sets",
      """SELECT event_type, user_id % 10 AS cohort,
        |  CAST(grouping(event_type) AS INT) AS g_type,
        |  CAST(grouping(user_id % 10) AS INT) AS g_cohort,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())""".stripMargin),
    QuerySpec.sql("sql_filter_agg",
      """SELECT event_type,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE value < 30) AS n_low,
        |  count(*) FILTER (WHERE value >= 400) AS n_high,
        |  round(avg(value) FILTER (WHERE value >= 100), 6) AS avg_mid
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("sql_grid_mixed", gridMixedSql _, Oracle(
      """SELECT l_returnflag,
        |  round(median(l_quantity), 6) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    QuerySpec.sql("sql_exists",
      """SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |  AND o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin),
    // DuckDB has no stack(); the long form is the portable oracle.
    QuerySpec.sql("sql_unpivot",
      """SELECT l_orderkey, l_linenumber, metric, round(value, 6) AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |  FROM lineitem)""".stripMargin),
    QuerySpec.sql("ml_ols",
      """WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
        |stats AS (SELECT
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(38,8)) * CAST(y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(38,8)) * CAST(x AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        |  FROM li),
        |fit AS (SELECT n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope FROM stats),
        |fit2 AS (SELECT slope, (sy - slope * sx) / n AS intercept FROM fit),
        |scored AS (SELECT y, intercept + slope * x AS p, slope, intercept
        |  FROM li CROSS JOIN fit2)
        |SELECT round(any_value(slope), 6) AS slope,
        |  round(any_value(intercept), 6) AS intercept,
        |  round(sqrt(avg(pow(y - p, 2))), 6) AS rmse,
        |  round(avg(abs(y - p)), 6) AS mae
        |FROM scored""".stripMargin))
}
