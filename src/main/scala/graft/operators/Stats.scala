package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical audits and sampling designs beyond the dq / a families:
  * categorical drift (chi-square), fraud screening (Benford), market
  * concentration (HHI), calendar seasonality decomposition, and exact
  * probability-proportional-to-size document sampling.
  *
  * Everything here follows the repo's cross-engine determinism rules:
  * integer/DECIMAL arithmetic wherever accumulation order could move a
  * float, literal constants shared with the oracle instead of libm
  * calls, and md5 as the only hash.
  */
object Stats {

  private val D18 = DecimalType(38, 18)

  /** Pearson chi-square test of independence on the event_type × timeline
    * half contingency table — the categorical companion to a29_ks
    * (numeric, two-sample) and dq_psi (binned proportions): "did the mix
    * of event types shift between the first and second half of the
    * stream?"
    *
    * Scale shape: one pass over events for the (type, half) counts
    * (partial+final aggregate); everything after runs on the
    * type-cardinality frame with the 1-row total broadcast back. The
    * timeline midpoint is integer epoch-micros arithmetic (same
    * convention as dq_psi) so both engines split identically. Expected
    * counts and per-cell contributions are doubles computed from exact
    * integers — bit-identical across engines — and the final sum
    * accumulates per-addend in DECIMAL(38,18) so partition order can't
    * move it.
    */
  private def dqChisq(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), tsUs(col("ts")).as("us"))
    val mm = ev.agg(min("us").as("lo"), max("us").as("hi")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val counts = ev.groupBy("event_type")
      .agg(sum(when(col("us") <= lit(mid), 1L).otherwise(0L)).as("cr"),
        sum(when(col("us") > lit(mid), 1L).otherwise(0L)).as("cc"))
    val tot = counts.agg(sum("cr").as("tr"), sum("cc").as("tc"),
      count(lit(1)).as("k"))
    def cell(o: org.apache.spark.sql.Column, colTot: org.apache.spark.sql.Column) = {
      val e = ((col("cr") + col("cc")) * colTot).cast("double") /
        (col("tr") + col("tc")).cast("double")
      val dev = o.cast("double") - e
      dev * dev / e
    }
    counts.crossJoin(broadcast(tot))
      .select((cell(col("cr"), col("tr")) + cell(col("cc"), col("tc")))
        .cast(D18).as("contrib"), col("k"), (col("tr") + col("tc")).as("n"))
      .groupBy("k", "n")
      .agg(r6(sum(col("contrib")).cast("double")).as("chi2"))
      .select(col("chi2"), (col("k") - 1).as("dof"), col("n"))
  }

  // First-digit probabilities log10(1 + 1/d), pre-rounded to 12 decimals
  // and shipped as literals to BOTH engines: deriving them from log10()
  // at runtime would compare JVM Math.log10 against DuckDB's libm, which
  // may differ in the last ulp. The literal text parses to the identical
  // double on both sides (decimal→double conversion is correctly rounded
  // everywhere).
  private[graft] val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
    4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
    7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)

  /** Benford's-law first-digit audit of event amounts — the classic
    * anomaly/fraud screen for transaction streams. The first significant
    * digit comes from the integer cents amount `floor(value·100)`
    * (filtered to ≥ 1 cent): floor on the bit-identical double product is
    * deterministic in both engines, and integer→string→first-char is
    * exact — no log10/pow digit extraction, whose libm rounding at exact
    * powers of ten could put a boundary value in different digit classes
    * per engine.
    *
    * Output is the dense 9-digit audit table (left join from the literal
    * digit frame, so digits the corpus never produces still report
    * n = 0): observed count/share, the Benford share, and the absolute
    * deviation. Scale shape: one pass for the 9 counts; the rest is a
    * 9-row frame with a broadcast 1-row total.
    */
  private def dqBenford(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.events(s, d)
      .select(floor(col("value") * lit(100.0)).cast("long").as("cents"))
      .filter(col("cents") >= 1)
    val obs = cents
      .select(substring(col("cents").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum("n").as("total"))
    val bf = s.createDataFrame(BenfordP).toDF("digit", "benford_share")
    broadcast(bf)
      .join(obs, Seq("digit"), "left").na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        r6(col("n").cast("double") / col("total").cast("double"))
          .as("obs_share"),
        col("benford_share"),
        r6(abs(col("n").cast("double") / col("total").cast("double") -
          col("benford_share"))).as("abs_dev"))
  }

  /** Herfindahl–Hirschman market-concentration index of supplier revenue
    * within each nation — the standard antitrust/concentration readout
    * (Σ share², share in [0,1]; 1/n ≤ HHI ≤ 1).
    *
    * Scale shape: revenue per supplier is one fact-table aggregate with
    * DECIMAL-exact sums (the supplier dimension broadcasts); nation
    * totals and shares come from a window over the supplier-cardinality
    * frame — no second fact pass. Shares are doubles from exact decimal
    * inputs (bit-identical across engines) and the share² sum
    * accumulates per-addend in DECIMAL(38,18).
    */
  private def a30Hhi(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    // Spread keyed on l_suppkey (r16): hash(l_suppkey) satisfies the
    // (n_name, l_suppkey) clustering of the revenue aggregate (subset
    // key, guide §2.4), so the spread REPLACES the aggregate's own
    // exchange — same exchange count, and the two join probes + the
    // DECIMAL(38,6) partial sums leave the single-split scan task.
    val rev = spreadScan(Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
        col("l_suppkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(38, 6))).as("rev"))
    val wNat = Window.partitionBy("n_name")
    // Numerator and denominator are exact decimals cast to double BEFORE
    // the division (decimal→double is correctly rounded in both engines);
    // dividing decimals directly would pit Spark's decimal-division
    // rounding against DuckDB's.
    rev
      .withColumn("share",
        col("rev").cast("double") /
          sum(col("rev")).over(wNat).cast("double"))
      .groupBy("n_name")
      .agg(r6(sum((col("share") * col("share")).cast(D18)).cast("double"))
        .as("hhi"),
        count(lit(1)).as("n_suppliers"),
        r6(max(col("share"))).as("top_share"))
  }

  /** Classical seasonal decomposition of the daily order-revenue series:
    * trend = centered ±3-day moving average, seasonal = mean detrended
    * value per day-of-week. Day-of-week is integer epoch-day arithmetic
    * (days since 1970-01-01 mod 7; 0 = Thursday) — no engine dow()
    * convention surface.
    *
    * Scale shape: the fact table aggregates FIRST to the calendar grain
    * (one row per order date — bounded by the date domain, ~2.4k rows at
    * every SF, forever), and only that bounded series flows through the
    * single-partition centered window; this aggregate-then-window order
    * is exactly how a 100 TB fact table becomes a time series without a
    * global row sort. All sums/averages stay in DECIMAL until the final
    * rounded division; trailing/leading edge days use their truncated
    * frames identically in both engines.
    */
  private def w23Seasonal(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .as("day"),
        col("o_totalprice").cast(DecimalType(38, 6)).as("v"))
      .groupBy("day").agg(sum("v").as("rev"))
    // Frame sum and count are exact (decimal / bigint); the division to
    // trend happens in doubles on those exact inputs, so both engines
    // produce the identical IEEE quotient — never a decimal division,
    // whose result-scale rounding differs per engine.
    val wC = Window.orderBy("day").rowsBetween(-3, 3)
    val det = daily
      .withColumn("trend",
        sum(col("rev")).over(wC).cast("double") /
          count(lit(1)).over(wC).cast("double"))
      .withColumn("resid", col("rev").cast("double") - col("trend"))
    det
      .groupBy((col("day") % 7).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        r6(sum(col("resid").cast(D18)).cast("double") /
          count(lit(1)).cast("double")).as("seasonal"),
        r6(sum(col("rev")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_revenue"))
  }

  // Sample size for the systematic PPS draw: k strata over the total
  // token mass, one boundary-straddling document each.
  private val PpsK = 40

  /** Exact weighted (probability-proportional-to-size) document sample —
    * systematic PPS sampling (Madow 1949): order documents by
    * md5(doc_id) (a deterministic shuffle), accumulate token weights,
    * and pick every document whose cumulative-weight interval crosses a
    * multiple of W/k. Every comparison is BIGINT arithmetic
    * (`(cw·k) div W`), so the sample is bit-reproducible in any engine —
    * unlike Efraimidis–Spirakis keys (u^(1/w)), whose pow() last-ulp
    * differences could reorder adjacent keys across engines. A document
    * heavier than a full stratum is simply taken once (stratum indexes
    * skip), so the draw returns ≤ k docs, each with inclusion
    * probability min(1, k·w/W).
    *
    * Scale shape: NO global sort. md5 keys are uniform, so the first two
    * hex chars give 256 skew-free buckets that are also a PREFIX of the
    * sort key — bucket-major order equals full md5 order. Per-bucket
    * running sums are bucket-partitioned windows; the 256 bucket totals
    * cascade through one tiny single-partition window and broadcast back
    * as offsets (the same two-phase prefix-sum shape as rangeCumsum).
    */
  private def ppWeightedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10)
        .cast("long"))
      .pinned() // consumed by the bucket totals and the per-row cumsum
    val wB = Window.partitionBy("bucket").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = docs.groupBy("bucket").agg(sum("n_tokens").as("bw"))
      .withColumn("offset",
        coalesce(sum(col("bw")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val tot = docs.agg(sum("n_tokens").as("w_total"))
    docs
      .withColumn("cw_local", sum(col("n_tokens")).over(wB))
      .join(broadcast(offsets), "bucket")
      .crossJoin(broadcast(tot))
      .withColumn("cw", col("offset") + col("cw_local"))
      .filter(expr(s"(cw * $PpsK) div w_total") >
        expr(s"((cw - n_tokens) * $PpsK) div w_total"))
      .select(col("doc_id"), col("n_tokens"), col("cw"),
        expr(s"(cw * $PpsK) div w_total").as("stratum"))
  }

  private val benfordValues: String = BenfordP
    .map { case (dg, p) => s"($dg, CAST($p AS DOUBLE))" }.mkString(", ")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dq_chisq", dqChisq _, Oracle(
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |c AS (SELECT event_type,
        |    sum(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS cr,
        |    sum(CASE WHEN us > mid THEN 1 ELSE 0 END) AS cc
        |  FROM ev, b GROUP BY event_type),
        |t AS (SELECT sum(cr) AS tr, sum(cc) AS tc, count(*) AS k FROM c),
        |e AS (SELECT
        |    CAST(cr AS DOUBLE) AS ocr, CAST(cc AS DOUBLE) AS occ,
        |    CAST((cr + cc) * tr AS DOUBLE) / CAST(tr + tc AS DOUBLE) AS er,
        |    CAST((cr + cc) * tc AS DOUBLE) / CAST(tr + tc AS DOUBLE) AS ec,
        |    k, CAST(tr + tc AS BIGINT) AS n
        |  FROM c, t),
        |cells AS (SELECT
        |    CAST((ocr - er) * (ocr - er) / er +
        |         (occ - ec) * (occ - ec) / ec AS DECIMAL(38,18)) AS contrib,
        |    k, n
        |  FROM e)
        |SELECT round(CAST(sum(contrib) AS DOUBLE), 6) AS chi2,
        |  k - 1 AS dof, n FROM cells GROUP BY k, n""".stripMargin)),
    QuerySpec("dq_benford", dqBenford _, Oracle(
      s"""WITH cents AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS c
         |  FROM events WHERE floor(value * 100.0) >= 1),
         |obs AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT)
         |    AS digit, count(*) AS n FROM cents GROUP BY 1),
         |tot AS (SELECT sum(n) AS total FROM obs),
         |bf(digit, benford_share) AS (VALUES $benfordValues)
         |SELECT bf.digit, coalesce(obs.n, 0) AS n,
         |  round(CAST(coalesce(obs.n, 0) AS DOUBLE)
         |    / CAST(total AS DOUBLE), 6) AS obs_share,
         |  benford_share,
         |  round(abs(CAST(coalesce(obs.n, 0) AS DOUBLE)
         |    / CAST(total AS DOUBLE) - benford_share), 6) AS abs_dev
         |FROM bf LEFT JOIN obs ON bf.digit = obs.digit, tot
         |ORDER BY bf.digit""".stripMargin)),
    QuerySpec("a30_hhi", a30Hhi _, Oracle(
      """WITH rev AS (SELECT n_name, l_suppkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,6))) AS rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name, l_suppkey),
        |sh AS (SELECT n_name,
        |    CAST(rev AS DOUBLE) /
        |      CAST(sum(rev) OVER (PARTITION BY n_name) AS DOUBLE) AS share
        |  FROM rev)
        |SELECT n_name,
        |  round(CAST(sum(CAST(share * share AS DECIMAL(38,18)))
        |    AS DOUBLE), 6) AS hhi,
        |  count(*) AS n_suppliers, round(max(share), 6) AS top_share
        |FROM sh GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QuerySpec("w23_seasonal", w23Seasonal _, Oracle(
      """WITH daily AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        |  FROM orders GROUP BY 1),
        |det AS (SELECT day, rev,
        |    CAST(rev AS DOUBLE) -
        |      CAST(sum(rev) OVER w AS DOUBLE) /
        |      CAST(count(*) OVER w AS DOUBLE) AS resid
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3
        |    FOLLOWING))
        |SELECT day % 7 AS dow, count(*) AS n_days,
        |  round(CAST(sum(CAST(resid AS DECIMAL(38,18))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS seasonal,
        |  round(CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_revenue
        |FROM det GROUP BY 1 ORDER BY dow""".stripMargin)),
    QuerySpec("pp_weighted_sample", ppWeightedSample _, Oracle(
      s"""WITH docs AS (SELECT doc_id,
         |    md5(CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS w_total
         |  FROM docs)
         |SELECT doc_id, n_tokens, cw,
         |  CAST((cw * $PpsK) // w_total AS BIGINT) AS stratum
         |FROM c
         |WHERE (cw * $PpsK) // w_total >
         |  ((cw - n_tokens) * $PpsK) // w_total
         |ORDER BY cw""".stripMargin)))
}
