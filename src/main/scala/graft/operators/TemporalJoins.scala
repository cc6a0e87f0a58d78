package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators: as-of (merge-based and custom-plan), range
  * join, full-outer reconciliation, and time-series gap-fill. Split out
  * of Extended.scala for maintainability — registry keys and semantics
  * unchanged. All oracle-checked against DuckDB.
  *
  * Scale notes per operator are on each method — none of these is
  * all-pairs, and the joins are either broadcast (bounded dimension) or
  * one partition-friendly shuffle.
  */
object TemporalJoins {

  /** As-of join: each event picks the most recent `error` event of the
    * same user at-or-before its timestamp (the classic trades/quotes
    * shape; here: "time since last error" enrichment).
    *
    * Spark-first plan: NOT a join at all — the right stream is unioned
    * into the left with a tag, one (user_id)-partitioned window computes
    * `last(err_us, ignoreNulls)` over rows ≤ current. One shuffle total,
    * no pair blow-up, state per key bounded by the window frame — at
    * 100 TB this is the merge-based as-of every stream processor uses,
    * with ties resolved right-row-first so the match is inclusive,
    * exactly like DuckDB's ASOF (e.ts >= r.ts) semantics.
    */
  private[graft] def asofLastError(ev: DataFrame): DataFrame = {
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("tus"), lit(0).as("tag"),
        lit(null).cast("long").as("eid"), col("tus").as("err_us"))
    val lefts = ev
      .select(col("user_id"), col("tus"), lit(1).as("tag"),
        col("event_id").as("eid"), lit(null).cast("long").as("err_us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("tag"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, 0)
    errs.unionByName(lefts)
      .withColumn("last_err_us", last(col("err_us"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("eid").as("event_id"), col("user_id"), col("tus"),
        col("last_err_us"))
  }

  private def j5AsofJoin(s: SparkSession, d: String): DataFrame =
    asofLastError(Tables.events(s, d)
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"),
        col("event_type")))

  /** The same as-of semantics through the custom whole-operator path
    * ([[graft.plans.AsOfJoinPlan]] + strategy + merge exec) instead of
    * the composed union-window plan — both are oracle-checked against
    * DuckDB's ASOF LEFT JOIN, and a spec asserts they agree bit-for-bit.
    */
  private def j7AsofCustom(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"))
    val errs = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), tsUs(col("ts")).as("err_tus"))
    graft.plans.AsOf.lastMatch(ev, errs,
      "user_id", "tus", "err_user", "err_tus", "last_err_us")
  }

  /** Range join: events binned into value intervals from a (tiny) ranges
    * dimension. The dimension is broadcast, so the theta-join is a
    * broadcast nested loop over 4 rows per event — no shuffle of the fact
    * side, which is the only plan that survives 100 TB (a shuffle theta
    * join would be all-pairs).
    */
  private val ValueRanges: Seq[(Int, Double, Double)] = Seq(
    (0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 200.0), (3, 200.0, 1e9))

  private def j6RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranges = ValueRanges.toDF("bucket_id", "lo", "hi")
    Tables.events(s, d)
      .join(broadcast(ranges),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"))
  }

  /** First-class FULL OUTER JOIN: daily error/purchase reconciliation
    * per user. At the (user_id, day) grain the testdata genuinely
    * exercises all three match states (sf0.01: 1026 error-only days,
    * 1018 purchase-only, 586 both), so the null-extension on BOTH sides
    * is load-bearing, not decorative. The join keys pass as a Seq so
    * Spark emits the coalesced USING-style key columns; the two sides
    * are independently filtered aggregates (two scans of the fact
    * table — no subplan sharing applies), and the join itself shuffles
    * only the already-aggregated day grain.
    */
  private def j8FullOuter(s: SparkSession, d: String): DataFrame = {
    def side(t: String, cnt: String) = Tables.events(s, d)
      .filter(col("event_type") === t)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as(cnt))
    side("error", "n_err")
      .join(side("purchase", "n_pur"), Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day"),
        coalesce(col("n_err"), lit(0L)).as("n_err"),
        coalesce(col("n_pur"), lit(0L)).as("n_pur"))
      .withColumn("status",
        when(col("n_err") > 0 && col("n_pur") > 0, "both")
          .when(col("n_err") > 0, "error_only").otherwise("purchase_only"))
  }

  /** Gap-fill with forward interpolation — the time-series
    * regularization every metrics/feature pipeline runs before
    * windowed modeling: a (user × day) grid from the global date spine,
    * daily aggregates left-joined on, and missing days forward-filled
    * with the last observed value (`last(ignoreNulls)` over a growing
    * frame — O(1) state per row). The spine is a generated axis
    * (min/max scalar job + sequence), the grid a broadcast cross join
    * of a bounded dimension; the only data shuffle is the daily
    * aggregation and the grid join on (user, day). Leading days before
    * a user's first event stay null on both engines.
    */
  private def w15GapFill(s: SparkSession, d: String): DataFrame =
    gapFill(Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value")))

  /** The gap-fill plan over an (user_id, day, value) frame — shared by
    * the query and the 100× scale smoke.
    */
  private[graft] def gapFill(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy("user_id", "day").agg(r6(avg("value")).as("v"))
    val spine = ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val grid = ev.select("user_id").distinct().crossJoin(broadcast(spine))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("was_gap", col("v").isNull.cast("int"))
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select("user_id", "day", "v_filled", "was_gap")
  }

  val specs: Seq[QuerySpec] = Seq(
    // ASOF at epoch-µs resolution on BOTH sides: the raw column is
    // TIMESTAMP(NANOS), which Spark truncates to µs on read — comparing
    // at ns in DuckDB could order a sub-µs-later error before an event.
    QuerySpec("j5_asof_join", j5AsofJoin _, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
        |r AS (SELECT user_id, epoch_us(ts) AS err_us FROM events
        |      WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.tus, r.err_us AS last_err_us
        |FROM e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.tus >= r.err_us
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("j7_asof_custom", j7AsofCustom _, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
        |r AS (SELECT user_id, epoch_us(ts) AS err_us FROM events
        |      WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.tus, r.err_us AS last_err_us
        |FROM e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.tus >= r.err_us
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("j6_range_join", j6RangeJoin _, Oracle {
      val vals = ValueRanges.map { case (b, lo, hi) => s"($b, $lo, $hi)" }
        .mkString(", ")
      s"""SELECT bucket_id, count(*) AS n, round(avg(value), 6) AS avg_value
         |FROM events JOIN (VALUES $vals) ranges(bucket_id, lo, hi)
         |  ON value >= lo AND value < hi
         |GROUP BY bucket_id ORDER BY bucket_id""".stripMargin
    }),
    QuerySpec("j8_full_outer", j8FullOuter _, Oracle(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    count(*) AS n_err FROM events
        |    WHERE event_type = 'error' GROUP BY 1, 2),
        |  p AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    count(*) AS n_pur FROM events
        |    WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT coalesce(e.user_id, p.user_id) AS user_id,
        |  coalesce(e.day, p.day) AS day,
        |  coalesce(n_err, 0) AS n_err,
        |  coalesce(n_pur, 0) AS n_pur,
        |  CASE WHEN coalesce(n_err, 0) > 0 AND coalesce(n_pur, 0) > 0
        |         THEN 'both'
        |       WHEN coalesce(n_err, 0) > 0 THEN 'error_only'
        |       ELSE 'purchase_only' END AS status
        |FROM e FULL OUTER JOIN p
        |  ON e.user_id = p.user_id AND e.day = p.day
        |ORDER BY user_id, day""".stripMargin)),
    QuerySpec("w15_gap_fill", w15GapFill _, Oracle(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value
        |  FROM events),
        |daily AS (SELECT user_id, day, round(avg(value), 6) AS v
        |  FROM ev GROUP BY user_id, day),
        |mm AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |spine AS (SELECT CAST(unnest(generate_series(d0, d1,
        |  INTERVAL 1 DAY)) AS DATE) AS day FROM mm),
        |grid AS (SELECT user_id, day
        |  FROM (SELECT DISTINCT user_id FROM ev), spine)
        |SELECT g.user_id, g.day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_filled,
        |  CAST(v IS NULL AS INT) AS was_gap
        |FROM grid g LEFT JOIN daily USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin)))
}
