package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-entry parity (SURVEY §3.2): the dbt feature model expressed as a
  * spark.sql string over temp views, plus a closed-form OLS regression
  * (the reference's ML-metrics surface as pure aggregates).
  */
object SqlSurface {

  /** Register the sf tables as temp views (idempotent) and return the
    * session the SQL must run on. A temp view lands in the catalog of
    * the DataFrame's OWN session, and a nanos-encoded events file binds
    * its frame to `Tables`' internal cloned session — registering it
    * from the caller and running `s.sql` there would throw
    * TABLE_OR_VIEW_NOT_FOUND. So: take the events frame AS DISPATCHED
    * (never re-read through the clone, whose pre-set conf would
    * misclassify the encoding), bind every other view to that frame's
    * session, and hand that session back for the query. For the
    * micros/NTZ encodings the returned session IS the caller's — no
    * behavior change; other tables' schemas are contract-asserted, so
    * a hypothetical nanos column in them still fails loudly under the
    * clone's conf.
    */
  def registerViews(s: SparkSession, d: String): SparkSession = {
    val ev = Tables(s, d, "events")
    val exec = ev.sparkSession
    ev.createOrReplaceTempView("events")
    Tables.names.filterNot(_ == "events").foreach { n =>
      Tables(exec, d, n).createOrReplaceTempView(n)
    }
    exec
  }

  /** The dbt fct_cycles_features model shape
    * (turbine_etl_dbt/models/fct_cycles_features.sql:10-50) as literal
    * SQL via spark.sql — the Jinja sensor loop becomes a generated column
    * list; output is identical to the DataFrame-API wf_features, proving
    * both entry points share semantics (and one WindowExec plan).
    */
  private def dbtFeatures(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    // spreadScan under a temp view (r16, the window-family finding —
    // see Windows.eventsSpread): pins the one hash(user_id) window
    // exchange past AQE's byte-based coalesce so the five window
    // families run at shuffle parallelism instead of one task. Spread
    // the view AS REGISTERED (never re-read through Tables: a
    // nanos-encoded events file binds to Tables' internal clone, whose
    // re-dispatch from this session would refuse the encoding).
    spreadScan(exec.table("events"),
      org.apache.spark.sql.functions.col("user_id"))
      .createOrReplaceTempView("events_spread")
    exec.sql(
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
        |FROM events_spread""".stripMargin)
  }

  /** OLS y~x (l_extendedprice ~ l_quantity) in closed form: the five
    * sufficient statistics are decimal-exact (order-independent) sums, so
    * slope/intercept are bit-identical across engines; fit metrics follow
    * as one more aggregate pass. This is the reference's regression-
    * evaluation surface (scripts/ml_pipeline.py:270-287,443-445) as a
    * distributed two-pass aggregate — no collect, no iteration.
    */
  private def olsRegression(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val dec = "decimal(38,8)"
    val stats = li.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast(dec)).cast("double").as("sx"),
      sum(col("y").cast(dec)).cast("double").as("sy"),
      sum((col("x").cast(dec) * col("y").cast(dec))).cast("double").as("sxy"),
      sum((col("x").cast(dec) * col("x").cast(dec))).cast("double").as("sxx"))
      .withColumn("slope", (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("n"))
    val scored = li.crossJoin(broadcast(stats.select("slope", "intercept")))
      .withColumn("p", col("intercept") + col("slope") * col("x"))
    scored.agg(
      r6(first(col("slope"))).as("slope"),
      r6(first(col("intercept"))).as("intercept"),
      r6(sqrt(avg(pow(col("y") - col("p"), 2)))).as("rmse"),
      r6(avg(abs(col("y") - col("p")))).as("mae"))
  }

  /** Explicit GROUPING SETS with GROUPING() markers — the general form
    * of a14's rollup/a15's cube, only reachable through the SQL entry
    * (the DataFrame API exposes rollup/cube but not arbitrary sets).
    * Catalyst plans one Expand + single aggregate for all three sets.
    */
  private def groupingSets(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    exec.sql(
      """SELECT event_type, user_id % 10 AS cohort,
        |  CAST(grouping(event_type) AS INT) AS g_type,
        |  CAST(grouping(user_id % 10) AS INT) AS g_cohort,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())""".stripMargin)
  }

  /** Correlated EXISTS + scalar subquery through the SQL entry —
    * Catalyst decorrelates the EXISTS into a left-semi join and plans
    * the scalar subquery as a broadcast one-row aggregate; neither
    * becomes a per-row loop.
    */
  private def existsSubquery(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    exec.sql(
      """SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |  AND o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin)
  }

  /** UNPIVOT (wide → long): three measure columns become (metric, value)
    * rows via stack — the Expand operator, one pass, no shuffle.
    */
  private def unpivot(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    // spreadScan under a temp view: the stack() Generate (600k → 1.8M
    // rows) otherwise runs in the single-split scan stage on one core
    // (r15 plan audit).
    spreadScan(Tables.lineitem(exec, d), org.apache.spark.sql.functions
      .col("l_orderkey")).createOrReplaceTempView("lineitem_spread")
    exec.sql(
      """SELECT l_orderkey, l_linenumber, metric, round(value, 6) AS value
        |FROM (SELECT l_orderkey, l_linenumber,
        |        stack(3, 'quantity', l_quantity,
        |                 'extendedprice', l_extendedprice,
        |                 'discount', l_discount) AS (metric, value)
        |      FROM lineitem_spread)""".stripMargin)
  }

  /** Aggregate FILTER clauses — per-aggregate predicates in one pass
    * (the SQL-standard form of the conditional-aggregate pivot shape).
    */
  private def filterAgg(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    exec.sql(
      """SELECT event_type,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE value < 30) AS n_low,
        |  count(*) FILTER (WHERE value >= 400) AS n_high,
        |  round(avg(value) FILTER (WHERE value >= 100), 6) AS avg_mid
        |FROM events GROUP BY event_type""".stripMargin)
  }

  /** Correlated LATERAL subquery: per-user top-2 events by value —
    * Catalyst decorrelates the ordered-limit subquery into a windowed
    * rank over a single join, not a per-row re-execution.
    */
  private def lateralTopk(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    // spreadScan under a temp view (r16, the window-family finding):
    // Catalyst decorrelates the LATERAL into a per-user rank window
    // whose sort/window stages otherwise run AQE-coalesced to one
    // task. Spread the view AS REGISTERED (see dbtFeatures on why the
    // frame must not be re-read through Tables).
    spreadScan(exec.table("events"),
      org.apache.spark.sql.functions.col("user_id"))
      .createOrReplaceTempView("events_spread")
    exec.sql(
      """SELECT u.user_id, s.event_id, s.value
        |FROM (SELECT DISTINCT user_id FROM events) u,
        |LATERAL (SELECT event_id, round(value, 6) AS value
        |         FROM events_spread e
        |         WHERE e.user_id = u.user_id
        |         ORDER BY e.value DESC, event_id LIMIT 2) s""".stripMargin)
  }

  /** Recursive-CTE date spine (the dbt calendar-spine pattern): generate
    * every month in the order-date range, then left-join monthly counts
    * so gap months surface as zeros. 80 iterations — comfortably inside
    * Spark's default recursion level limit of 100.
    */
  private def dateSpine(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(s, d)
    exec.sql(
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
  }

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
  private def gridMixedSql(s: SparkSession, d: String): DataFrame = {
    val exec = registerViews(ruleSession(s), d)
    exec.sql(
      """SELECT l_returnflag,
        |  round(median(l_quantity), 6) AS med_qty,
        |  round(percentile(l_extendedprice, 0.9), 6) AS p90_price,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sql_lateral", lateralTopk _, Oracle(
      """SELECT u.user_id, s.event_id, s.value
        |FROM (SELECT DISTINCT user_id FROM events) u,
        |LATERAL (SELECT event_id, round(value, 6) AS value FROM events e
        |         WHERE e.user_id = u.user_id
        |         ORDER BY e.value DESC, event_id LIMIT 2) s
        |ORDER BY u.user_id, s.value DESC, s.event_id""".stripMargin)),
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
    QuerySpec("sql_grouping_sets", groupingSets _, Oracle(
      """SELECT event_type, user_id % 10 AS cohort,
        |  CAST(grouping(event_type) AS INT) AS g_type,
        |  CAST(grouping(user_id % 10) AS INT) AS g_cohort,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        |ORDER BY g_type, g_cohort, event_type NULLS FIRST,
        |  cohort NULLS FIRST""".stripMargin)),
    QuerySpec("sql_filter_agg", filterAgg _, Oracle(
      """SELECT event_type,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE value < 30) AS n_low,
        |  count(*) FILTER (WHERE value >= 400) AS n_high,
        |  round(avg(value) FILTER (WHERE value >= 100), 6) AS avg_mid
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("sql_grid_mixed", gridMixedSql _, Oracle(
      """SELECT l_returnflag,
        |  round(median(l_quantity), 6) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    QuerySpec("sql_exists", existsSubquery _, Oracle(
      """SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_quantity > 45)
        |  AND o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)),
    // DuckDB has no stack(); the long form is the portable oracle.
    QuerySpec("sql_unpivot", unpivot _, Oracle(
      """SELECT l_orderkey, l_linenumber, metric, round(value, 6) AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |  FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),
    QuerySpec("ml_ols", olsRegression _, Oracle(
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
        |FROM scored""".stripMargin)))
}
