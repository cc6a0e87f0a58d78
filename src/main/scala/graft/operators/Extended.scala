package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 inventory extensions beyond the reference surface: pivot,
  * distinct aggregates, correlation statistics, boolean/string/arg/topk
  * aggregates, the rank/first-last/distribution window families, text
  * normalization and corpus bigram statistics. Temporal joins live in
  * [[TemporalJoins]], scalar-function surfaces in [[ScalarOps]]. All
  * oracle-checked against DuckDB.
  *
  * Scale notes per operator are on each method — none of these is
  * all-pairs, and every aggregate is partial+final (map-side combine).
  */
object Extended {

  /** Pivot: per-user average value by event type, one column per type.
    * The type list is explicit (never inferred with an extra collect
    * job); the plan is a single partial+final hash aggregate over
    * user_id — pivot columns are just conditional aggregates.
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def p13Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(r6(avg(col("value"))))

  /** Corpus bigram document frequency, top-20: per-doc distinct word
    * bigrams explode into a combiner-friendly count (map-side partials on
    * the shuffle), then TakeOrdered — the n-gram statistics pass of a
    * training-data pipeline.
    */
  private def taBigrams(s: SparkSession, d: String): DataFrame =
    // spreadScan: tokenize+shingle+explode otherwise runs inside the
    // single-split documents scan on one core (r15 plan audit).
    spreadScan(Tables.documents(s, d), col("doc_id"))
      .select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram")).limit(20)

  /** Deterministic list/string aggregation: the per-key set of event
    * types, sorted then joined — the canonical way to make a collect
    * aggregate order-stable across engines and partitionings.
    */
  private def a21StringAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
        .as("types"))

  /** first_value / last_value / nth_value window family over the
    * per-user event order (unique (ts, event_id) key, so ROWS and RANGE
    * frames agree in both engines).
    */
  private def w10FirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(tsUs(col("ts")), col("event_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spreadScan(Tables.events(s, d), col("user_id"))
      .select(col("event_id"),
        r6(first(col("value")).over(w)).as("first_v"),
        r6(last(col("value")).over(wAll)).as("last_v"),
        r6(nth_value(col("value"), 2).over(w)).as("second_v"))
  }

  /** Rolling distinct count over a BOUNDED frame: Spark has no
    * count(DISTINCT) window, so the idiom is a set aggregate over the
    * frame — size(array_distinct(collect_list(...))) — which is
    * scale-safe exactly because the ROWS frame bounds the collected
    * state to 5 elements per row (never do this over an unbounded
    * frame).
    */
  private def w14RollingDistinct(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(tsUs(col("ts")), col("event_id")).rowsBetween(-4, 0)
    spreadScan(Tables.events(s, d), col("user_id")).select(
      col("event_id"),
      size(array_distinct(collect_list(col("event_type")).over(w)))
        .as("d_types_5"))
  }

  /** Rolling median over a bounded 5-row frame — the robust smoother
    * (outlier-resistant, unlike the rolling mean w1/w2 family). Frame
    * state is 5 values per row; never do this over an unbounded frame.
    */
  private def w16RollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(tsUs(col("ts")), col("event_id")).rowsBetween(-4, 0)
    // median() rejects window frames, so take the frame's values
    // (bounded: 5 per row) and interpolate the middle explicitly —
    // even-count frames average the two middles, matching SQL median.
    // collect_list drops nulls, so an all-null frame gives n=0: guard
    // it to NULL (element_at(_, 0) would throw; SQL median is NULL).
    val arr = sort_array(collect_list(col("value")).over(w))
    val n = size(arr)
    val med = when(n === 0, lit(null).cast("double"))
      .when(n % 2 === 1, element_at(arr, ((n + 1) / 2).cast("int")))
      .otherwise((element_at(arr, (n / 2).cast("int")) +
        element_at(arr, (n / 2 + 1).cast("int"))) / 2.0)
    spreadScan(Tables.events(s, d), col("user_id")).select(
      col("event_id"), r6(med).as("med5"))
  }

  /** Exponentially-weighted moving average over a trailing 20-row
    * frame (decay 0.8 per step, i.e. α = 0.2; weights renormalized
    * within the frame — pandas `ewm(alpha=0.2, adjust=True)` truncated
    * to span 20, where the dropped tail weight is 0.8²⁰ ≈ 1%%). Spark
    * has no EWMA window function; recursive forms don't distribute —
    * but the TRUNCATED form is a plain weighted frame: collect the
    * ordered frame (bounded: 20 values) and fold value·decay^age with
    * codegen'd higher-order functions, O(w²) per row with w constant.
    * Same frame contract as W1/W2/W16, so the shuffle is the one
    * (user_id) window exchange. Both engines fold the identical
    * frame-ordered list left-to-right over identical doubles, so the
    * result is deterministic cross-engine.
    */
  private def w17Ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(tsUs(col("ts")), col("event_id"))
    // 20 explicit lag terms instead of a collect_list frame + per-row
    // higher-order fold: all lags compute in ONE window pass with no
    // per-row array allocation (the fold form was a top-5 bench cost at
    // 3.1s; this reads 1.3s). A lag beyond the partition prefix is null
    // → its term drops from numerator and denominator, reproducing the
    // partial-window weights exactly. Terms sum OLDEST FIRST (k=19…0),
    // the same order the fold accumulated, so the float sum is
    // bit-identical to the previous form and the oracle.
    val terms = (19 to 0 by -1).map { k =>
      val x = lag(col("value"), k).over(w)
      (coalesce(x * lit(math.pow(0.8, k)), lit(0.0)),
        when(x.isNotNull, lit(math.pow(0.8, k))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    spreadScan(Tables.events(s, d), col("user_id"))
      .select(col("event_id"), r6(num / den).as("ewma20"))
  }

  /** Rolling Pearson correlation between quantity and price per
    * supplier over a trailing 20-row frame — the co-movement monitor of
    * a metrics pipeline. Computed from the five FRAME SUMS (n, Σx, Σy,
    * Σx², Σy², Σxy) rather than a corr() window aggregate: the inputs
    * are cast to DECIMAL(18,6) and the sums (products in DECIMAL 37,12)
    * accumulate exactly, so the doubles entering the correlation
    * formula are bit-identical between engines (the oracle casts to
    * DECIMAL(19,6) — same exact values, but the one extra digit pushes
    * DuckDB's product onto int128 storage instead of overflowing
    * int64; Spark at (19,6) would instead hit its 38-precision cap and
    * LOSE product scale, so the widths deliberately differ) — corr's
    * cancellation-
    * prone numerator (n·Σxy − Σx·Σy) would otherwise amplify summation-
    * order ulp drift right past the 6-decimal gate. Zero variance on
    * either side → NULL (the 0/0 guard both engines share). Spark
    * evaluates all five sums in one window pass; state is one 20-row
    * frame per open partition at any history length.
    */
  private def w22RollingCorr(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col("l_quantity").cast(DecimalType(18, 6))
    val y = col("l_extendedprice").cast(DecimalType(18, 6))
    // Frame sums via prefix-sum differences, NOT a sliding ROWS frame:
    // Spark recomputes a sliding frame's aggregation buffer from
    // scratch at every row (decimal sums have no inverse-reduce), which
    // made the direct 20-row form 20× the work — 6.6s at sf0.1. The
    // unbounded-preceding cumsum is incremental (O(1)/row), and because
    // decimal arithmetic is EXACT, cum(i) − cum(i−20) equals the direct
    // frame sum bit-for-bit — no float-cancellation caveat, so the
    // oracle keeps its plain windowed-sum formulation. 6.6s → ~1.6s.
    // (37,12), not (38,12): subtraction adds one precision digit, and at
    // 38 Spark's cap would shave the scale to 11 — rounding the exact
    // 12-decimal products. 25 integer digits still hold any realistic
    // per-partition prefix sum.
    val dt = DecimalType(37, 12)
    def cum(c: Column) = sum(c).over(wCum).cast(dt)
    // spreadScan (r16, the window-family finding — see
    // Windows.eventsSpread): the hash(l_suppkey) window exchange is
    // byte-tiny (~14 MB) and was AQE-coalesced to ONE partition, so all
    // ten decimal prefix sums ran serially every pass.
    val cums = spreadScan(Tables.lineitem(s, d), col("l_suppkey")).select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      col("l_shipdate"), row_number().over(wOrd).as("rn"),
      cum(x).as("cx"), cum(y).as("cy"), cum(x * x).as("cxx"),
      cum(y * y).as("cyy"), cum(x * y).as("cxy"))
    // lag of a window expression can't nest, so the prefix sums
    // materialize in one projection and the 20-back differences in a
    // second over the SAME window spec — still one shuffle+sort.
    def fsum(c: String): Column =
      (col(c) - coalesce(lag(col(c), 20).over(wOrd), lit(0).cast(dt)))
        .cast("double")
    val n = least(col("rn"), lit(20)).cast("double")
    val (sx, sy) = (fsum("cx"), fsum("cy"))
    val (sxx, syy, sxy) = (fsum("cxx"), fsum("cyy"), fsum("cxy"))
    val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
    cums
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        when(vx > 0 && vy > 0,
          r6((n * sxy - sx * sy) / sqrt(vx * vy))).as("roll_corr"))
  }

  /** Robust outlier audit per event type: median, MAD (median absolute
    * deviation), and the count beyond the 3σ-equivalent robust band
    * |v − med| > 3·1.4826·MAD — the anomaly gate that, unlike dq_drift's
    * mean/std z-score, a single wild value cannot recruit into its own
    * threshold. Both medians come from [[Relational.gridQuantiles]]'
    * distributed value grid (never a buffering percentile); the
    * group-level median/MAD frames are model-sized → broadcast back
    * onto the stream, and the band count is one partial+final
    * aggregate. 4.4478 = 3·1.4826 (the normal-consistency constant),
    * written as one literal in both engines.
    */
  private def dqMad(s: SparkSession, d: String): DataFrame = {
    // spreadScan BEFORE the pin (r16, the dq_psi finding): the 1-split
    // scan otherwise caches as ONE partition and the two grid collapses
    // plus the band-count aggregate all run serially over it.
    val ev = spreadScan(Tables.events(s, d)
      .select(col("event_type"), col("value")), col("value"))
      .pinned() // median grid + deviation stream
    val dev = ev.join(broadcast(Relational.gridQuantiles(
        ev, Seq("event_type"), "value", Seq(0.5 -> "med"))), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
      .pinned() // MAD grid + the band-count aggregate
    val mad = Relational.gridQuantiles(
      dev, Seq("event_type"), "ad", Seq(0.5 -> "mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("ad") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Population Stability Index per event type between the first and
    * second half of the event timeline (split at the integer midpoint
    * of the epoch-micros range — pure integer arithmetic, no calendar
    * functions to disagree on): reference-half deciles become the 10
    * bins (cut points from [[Relational.gridQuantiles]]' distributed
    * grid), both halves are binned against them, and
    * PSI = Σ (p−q)·ln(p/q) with the standard 1e-6 proportion clamp for
    * empty bins. The drift gate risk teams run between a model's
    * training window and today.
    *
    * Scale shape: cut points are a groups×9 frame → broadcast; binning
    * is a codegen'd 9-comparison sum on the stream; the per-(type, bin)
    * counts are partial+final aggregates; the dense bin skeleton comes
    * from exploding a 10-element literal against the distinct types
    * (no join). The 10-addend PSI sum accumulates per-addend in
    * DECIMAL(38,18) so partition order can't move it.
    */
  private def dqPsi(s: SparkSession, d: String): DataFrame = {
    // spreadScan BEFORE the pin (r16 plan audit): off the single-split
    // testdata scan the pin cached as ONE partition, so every consumer
    // — the decile grid collapse, the 9-comparison binning pass, the
    // per-(type,bin) partials — streamed it serially on every pass.
    // us is near-unique, so the hash spread cannot skew.
    val ev = spreadScan(Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), tsUs(col("ts")).as("us")),
      col("us"))
      .pinned() // consumed by the split bound and both halves
    val mm = ev.agg(min("us").as("lo"), max("us").as("hi")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val ref = ev.filter(col("us") <= lit(mid))
    val cuts = Relational.gridQuantiles(ref, Seq("event_type"), "value",
      (1 to 9).map(i => (i / 10.0) -> s"t$i"))
    // Both halves bin in ONE pass over the pinned stream (conditional
    // counts on the side flag) — binning ref and cur separately costs a
    // second join+aggregate for no information.
    val counts = ev.join(broadcast(cuts), "event_type")
      .withColumn("bin", (1 to 9).map(i =>
        when(col("value") > col(s"t$i"), 1).otherwise(0))
        .foldLeft(lit(1))(_ + _))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("us") <= lit(mid), 1L).otherwise(0L)).as("cr"),
        sum(when(col("us") > lit(mid), 1L).otherwise(0L)).as("cc"))
    val bins = ev.select("event_type").distinct()
      .select(col("event_type"),
        explode(sequence(lit(1), lit(10))).as("bin"))
    val dense = bins
      .join(counts, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("cr", "cc"))
    val wTot = Window.partitionBy("event_type")
    val d1 = dense
      .withColumn("nr", sum("cr").over(wTot))
      .withColumn("nc", sum("cc").over(wTot))
      .withColumn("p",
        greatest(col("cr").cast("double") / col("nr"), lit(1e-6)))
      .withColumn("q",
        greatest(col("cc").cast("double") / col("nc"), lit(1e-6)))
    d1.groupBy("event_type")
      .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
        sum(((col("p") - col("q")) * log(col("p") / col("q")))
          .cast(DecimalType(38, 18))).cast("double").as("psi0"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0, r6(col("psi0")))
          .as("psi"))
  }

  /** Cohort lifetime-value curves: users cohorted by first-event week,
    * cumulative purchase revenue per user by cohort age — the
    * retention-economics readout next to es_retention's activity
    * triangle. All week math is integer epoch-microsecond division
    * (shared constant 604800000000), so both engines cut cohorts
    * identically with no calendar/timezone surface. Scale shape: one
    * per-user min (partial+final), one shuffle join back on user_id,
    * one (cohort, age) aggregate with DECIMAL-exact revenue sums, and
    * a cumulative window over age within each cohort — partitions are
    * cohort-sized cell lists (bounded by weeks in the corpus), and the
    * cohort-size frame is broadcast.
    */
  private def esCohortLtv(s: SparkSession, d: String): DataFrame = {
    val wk = 604800000000L // 7 * 86400 * 1e6 micros
    val ev = Tables.events(s, d)
      .select(col("user_id"), tsUs(col("ts")).as("us"),
        col("event_type"), col("value"))
    val coh = ev.groupBy("user_id").agg(min("us").as("c_us"))
      .withColumn("cohort_week", expr(s"c_us div $wk"))
      .pinned() // consumed by the join and the cohort-size frame
    val sizes = coh.groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
    val rev = ev.join(coh, "user_id")
      .withColumn("age_week", expr(s"(us - c_us) div $wk"))
      .groupBy("cohort_week", "age_week")
      .agg(dsum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0))).as("rev"))
    val wcum = Window.partitionBy("cohort_week").orderBy("age_week")
    rev
      .withColumn("cum_rev",
        sum(col("rev").cast(DecimalType(38, 6))).over(wcum).cast("double"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        r6(col("cum_rev")).as("cum_rev"),
        r6(col("cum_rev") / col("n_users")).as("ltv_per_user"))
  }

  /** arg-min/arg-max aggregates: first/last event type per user. The
    * selector key is a zero-padded (epoch-µs, event_id) string — unique
    * and identically ordered in both engines, making the arg aggregates
    * tie-free (DuckDB's arg_max has no composite-key overload).
    */
  private def a22ArgMinmax(s: SparkSession, d: String): DataFrame = {
    val key = concat(
      lpad(tsUs(col("ts")).cast("string"), 20, "0"), lit("-"),
      lpad(col("event_id").cast("string"), 10, "0"))
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(min_by(col("event_type"), key).as("first_type"),
        max_by(col("event_type"), key).as("last_type"),
        count(lit(1)).as("n"))
  }

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace — emitted as the normalized hash + length (the form a
    * normalization-then-dedup pass keys on).
    */
  private def taNormalize(s: SparkSession, d: String): DataFrame = {
    val norm = TextAnalysis.normText(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), md5(norm).as("norm_hash"),
        length(norm).as("n_norm"))
  }

  // ------------------------------------------------------------ registry

  /** Three-step funnel (view → click → purchase): per user, the first
    * view, the first click strictly after it, and the first purchase
    * strictly after that, plus the reached depth — the event-sequence
    * conversion query every product-analytics stack runs. Computed as
    * CHAINED per-user aggregations (min-ts of step k among events after
    * the user's step-k−1 time) rather than a collect-and-scan: a
    * per-user collect_list would buffer an unbounded event history (a
    * bot user at corpus scale OOMs a task), while this form only ever
    * shuffles (user, ts) pairs and aggregates them — three exchanges on
    * the SAME user_id key, which AQE/exchange-reuse co-locates, with
    * per-user state of exactly one timestamp per step. Step times are
    * epoch micros ([[tsUs]]) so the comparison grid is
    * encoding-independent.
    */
  private def esFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), tsUs(col("ts")).as("tus"))
      .pinned() // probed once per funnel step
    def firstAfter(evType: String, prev: DataFrame, prevCol: String,
        outCol: String): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev.select("user_id", prevCol), "user_id")
        .filter(col("tus") > col(prevCol))
        .groupBy("user_id").agg(min(col("tus")).as(outCol))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t_view"))
    val s2 = firstAfter("click", s1, "t_view", "t_click")
    val s3 = firstAfter("purchase", s2, "t_click", "t_purchase")
    ev.select("user_id").distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .withColumn("depth",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0))
  }

  /** Weekly cohort retention — the other canonical event-sequence
    * rollup: users cohorted by their first-seen epoch week, and for
    * each (cohort, week-offset) the count and fraction of the cohort
    * active that week. Weeks are PURE INT64 epoch arithmetic
    * (epoch_us div 604800e6) rather than date_trunc('week'): both
    * engines agree bit-exactly with no Monday-vs-Sunday or timezone
    * edge. Scale shape: events pre-collapse to distinct (user, week)
    * pairs FIRST (bounds everything downstream to users × weeks, not
    * raw events), the cohort table derives from the same collapsed
    * frame by a per-user min, and the final rollup aggregates a
    * users×weeks-sized join on the user key. Offset-0 retention is 1.0
    * by construction (every user is active in their own cohort week) —
    * a structural invariant the spec pins.
    */
  private def esRetention(s: SparkSession, d: String): DataFrame = {
    val WeekUs = 7L * 86400 * 1000000
    // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and an
    // epoch value landing within an ulp of a week boundary could floor
    // differently than DuckDB's integer `//` (the scaleKey lesson).
    val uw = Tables.events(s, d)
      .withColumn("tus", tsUs(col("ts")))
      .select(col("user_id"),
        expr(s"CAST(tus div ${WeekUs}L AS BIGINT)").as("wk"))
      .distinct()
      .pinned() // cohort derivation and activity join share this frame
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention",
        r6(col("n_active").cast("double") / col("n_cohort")))
      .select("cohort_week", "offset", "n_active", "n_cohort", "retention")
  }

  /** Per-type ingest freshness: event count, last-seen timestamp, and
    * the lag behind the corpus frontier — the staleness gate a feed
    * monitor alarms on (a type whose producer died stops advancing
    * while the frontier moves). Two tiny aggregates and a broadcast of
    * the 1-row frontier; the stale flag thresholds at 2 days of lag.
    */
  private def dqFreshness(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), tsUs(col("ts")).as("tus"))
    val frontier = ev.agg(max(col("tus")).as("frontier_us"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("tus")).as("last_us"))
      .crossJoin(broadcast(frontier))
      .select(col("event_type"), col("n"), col("last_us"),
        (col("frontier_us") - col("last_us")).as("lag_us"),
        (col("frontier_us") - col("last_us") > 2L * 86400L * 1000000L)
          .cast("int").as("stale"))
  }

  /** Top user-journey prefixes: each user's first five events as a
    * `>`-joined type path, ranked by how many users share it — the
    * onboarding-path report behind every product-analytics tool. The
    * prefix cap is applied BEFORE any collection (row_number then
    * filter), so the per-user buffered state is ≤5 structs even for a
    * bot with 10⁸ events — the same bounded-buffer discipline as the
    * streaming funnel — and the path frame entering the count is one
    * row per user. Top-20 is a distributed TakeOrdered.
    */
  private def esPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("tus"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        _.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(20)
  }

  /** Deterministic A/B test readout — the experimentation query every
    * event warehouse serves: users hash-split 50/50 (same md5-bucket
    * scheme as pp_hash_split, so assignment is reproducible across
    * engines and runs), per-arm conversion = "user has ≥1 purchase
    * purchase count than the corpus mean". Any FIXED count threshold
    * degenerates somewhere — per-user event density varies by an order
    * of magnitude across scale factors, so ≥1 (and ≥5) saturate to
    * all-converted and the pooled variance collapses to 0 (ANSI
    * division-by-zero caught exactly that in development); above-mean
    * is ~half the users at every density, and the comparison is EXACT
    * integer arithmetic (purchases·n_users > total_purchases), so both
    * engines cut identically with no float threshold. z is NULL when
    * an arm is empty or the pooled rate is degenerate — guarded
    * identically in both engines. One map-side-combinable per-user
    * aggregate, a 1-row broadcast of the corpus stats, one tiny
    * per-arm rollup, and pure arithmetic on a 2-row frame — nothing
    * global anywhere.
    */
  private def esAbTest(s: SparkSession, d: String): DataFrame = {
    val arm = when(conv(substring(md5(col("user_id").cast("string")), 29, 4),
      16, 10).cast("long") % 2 === 0, "A").otherwise("B")
    val purchases = Tables.events(s, d).groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("purchases"))
    val stats = purchases.agg(count(lit(1)).as("n_users"),
      sum(col("purchases")).as("total_p"))
    val per = purchases.crossJoin(broadcast(stats))
      .select(arm.as("arm"),
        when(col("purchases") * col("n_users") > col("total_p"), 1)
          .otherwise(0).as("converted"))
      .groupBy("arm").agg(count(lit(1)).as("n"),
        sum(col("converted")).as("conv"))
    def pick(a: String, c: String, alias: String) =
      min(when(col("arm") === a, col(c))).as(alias)
    val denom = sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    per.agg(pick("A", "n", "n_a"), pick("A", "conv", "conv_a"),
        pick("B", "n", "n_b"), pick("B", "conv", "conv_b"))
      .withColumn("rate_a", r6(col("conv_a").cast("double") / col("n_a")))
      .withColumn("rate_b", r6(col("conv_b").cast("double") / col("n_b")))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")))
      .withColumn("z", r6(when(
        col("p_pool") > 0 && col("p_pool") < 1,
        (col("conv_a").cast("double") / col("n_a") -
          col("conv_b").cast("double") / col("n_b")) / denom)))
      .select("n_a", "conv_a", "rate_a", "n_b", "conv_b", "rate_b", "z")
  }

  /** RFM segmentation (recency / frequency / monetary, the classic
    * customer-value grid): per-user metrics in one aggregate, tertile
    * thresholds via [[Relational.gridQuantiles]], and 1–3 scores by
    * broadcast threshold comparison. The textbook formulation buckets
    * with `ntile()` — a GLOBAL window that funnels every user through
    * one ranking task; thresholds-then-compare is the same statistic
    * with no global order anywhere (quantiles from the value grid,
    * comparisons rowwise against a 1-row broadcast). Monetary sums in
    * decimal and rounds BEFORE thresholding so both engines cut on
    * identical values; recency is int64 epoch-day arithmetic.
    */
  private def esRfm(s: SparkSession, d: String): DataFrame = {
    val DayUs = 86400L * 1000000
    val ev = Tables.events(s, d)
      .select(col("user_id"), tsUs(col("ts")).as("tus"), col("value"))
    val frontier = ev.agg(max(col("tus")).as("f_us"))
    val per = ev.groupBy("user_id")
      .agg(max(col("tus")).as("last_us"),
        count(lit(1)).as("frequency"),
        r6(dsum(col("value"))).as("monetary"))
      .crossJoin(broadcast(frontier))
      .select(col("user_id"),
        expr(s"CAST((f_us - last_us) div ${DayUs}L AS BIGINT)")
          .as("recency_d"),
        col("frequency"), col("monetary"))
      .pinned()
    // ONE keyed gridQuantiles pass cuts all three metrics (the same
    // k-explode shape as exactMedians) — three separate pipelines cost
    // ~18 stages of scheduling for identical thresholds (4.3 → 3.2s
    // at sf0.1).
    val long = per.select(explode(array(
        struct(lit("r").as("k"), col("recency_d").cast("double").as("v")),
        struct(lit("f").as("k"), col("frequency").cast("double").as("v")),
        struct(lit("m").as("k"), col("monetary").as("v")))).as("e"))
      .select(col("e.k").as("k"), col("e.v").as("v"))
    val q = Relational.gridQuantiles(long, Seq("k"), "v",
      Seq((1.0 / 3) -> "t1", (2.0 / 3) -> "t2"))
    def pick(k: String, c: String, a: String) =
      min(when(col("k") === k, col(c))).as(a)
    val t = q.agg(pick("r", "t1", "rt1"), pick("r", "t2", "rt2"),
      pick("f", "t1", "ft1"), pick("f", "t2", "ft2"),
      pick("m", "t1", "mt1"), pick("m", "t2", "mt2"))
    def hi(c: String, t1: String, t2: String) =
      lit(1) + (col(c) > col(t1)).cast("int") + (col(c) > col(t2)).cast("int")
    per.crossJoin(broadcast(t))
      .select(col("user_id"), col("recency_d"), col("frequency"),
        col("monetary"),
        // Recency scores inverted: most-recent (lowest days) = 3.
        (lit(4) - hi("recency_d", "rt1", "rt2")).as("r_score"),
        hi("frequency", "ft1", "ft2").as("f_score"),
        hi("monetary", "mt1", "mt2").as("m_score"))
  }

  /** Last-touch attribution — the third canonical event-sequence query
    * next to the funnel and the cohort rollup: every purchase is
    * attributed to the SAME user's latest preceding click (strictly
    * earlier in the (ts, event_id) order; unattributed purchases keep a
    * null, so coverage is part of the answer). One user-partitioned
    * window with `last(..., ignoreNulls)` over the
    * unbounded-preceding-to--1 frame — both the click id and its
    * timestamp come from the same picked row because the two CASE
    * columns are null on exactly the same rows. Scale shape: the
    * standard per-user event-sequence shuffle (same key as
    * sessionization); no self-join of purchases against clicks, which
    * would shuffle the event table twice and skew on hot users.
    */
  private def esAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def lastClick(c: Column) =
      last(when(col("event_type") === "click", c), ignoreNulls = true).over(w)
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("ts_us"))
      .withColumn("click_id", lastClick(col("event_id")))
      .withColumn("gap_us", col("ts_us") - lastClick(col("ts_us")))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_ts_us"), col("click_id"), col("gap_us"))
  }

  /** Data-quality profile — the table-stats gate a production ingest
    * runs before accepting a drop: per measure column, row count,
    * non-null count, exact distinct count, min/max and mean, one output
    * row per column. Scale shape: ALL metrics come from ONE aggregate
    * over the table (map-side partials; the multi-column exact
    * distincts use Spark's Expand + two-stage aggregate, the standard
    * distributed plan) and the per-column reshape is a `stack` over the
    * single result row — no per-row explode that would shuffle the
    * whole table keyed by a handful of column names (4 hot keys for
    * every row is the straggler shape the long-format formulation
    * bakes in).
    */
  private def dqProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // SPLIT-BRANCH aggregation (r15): the heavy part — four exact
    // countDistincts, i.e. an Expand(×5) over the table — is
    // order-INSENSITIVE, so it runs on a spreadScan branch at full
    // parallelism; the r6(avg(double)) columns are only bit-stable at
    // the sequential aggregation order the oracle's DuckDB avg shares
    // (a whole-aggregate spread moved avg(l_discount) across the
    // 0.0499185 round boundary and hash-diverged at sf0.01), so they
    // stay on the unspread single-split scan with the cheap
    // count/min/max. One extra 10 MB scan buys 31 idle cores for the
    // Expand; both 1-row results broadcast-join back.
    val seqAggs = (cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__nn"),
      min(col(c)).as(s"${c}__mn"),
      max(col(c)).as(s"${c}__mx"),
      r6(avg(col(c))).as(s"${c}__av")) } :+ count(lit(1)).as("__n"))
    val ndAggs = cols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
    val li = Tables.lineitem(s, d)
    val one = li.agg(seqAggs.head, seqAggs.tail: _*)
      .crossJoin(broadcast(
        // spread key = l_orderkey (high-cardinality): hashing on a
        // measure column's ~50 distinct values would leave most of
        // the 32 partitions empty (guide §2.5).
        spreadScan(li.select((col("l_orderkey") +: cols.map(col)): _*),
          col("l_orderkey"))
          .agg(ndAggs.head, ndAggs.tail: _*)))
    one.select(expr(
      s"stack(${cols.length}, " + cols.map(c =>
        s"'$c', __n, ${c}__nn, ${c}__nd, ${c}__mn, ${c}__mx, ${c}__av")
        .mkString(", ") +
        ") as (col_name, n_rows, n_non_null, n_distinct, vmin, vmax, vmean)"))
  }

  /** Event-type transition matrix (first-order Markov counts): for
    * every consecutive pair in each user's (ts, event_id)-ordered
    * stream, count (from_type → to_type) and the per-from-type
    * transition probability. One user-partitioned lead window (the
    * sessionization shuffle), then the aggregate collapses to
    * |types|² rows — the probability normalization windows over THAT
    * tiny frame, not the events.
    */
  private def esTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("ts_us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n") /
        sum(col("n")).over(Window.partitionBy("from_type"))))
  }

  /** Daily volume drift (statistical process control over ingest
    * volume): per (event_type, epoch day), the event count and its
    * z-score against the trailing 7-PRESENT-day window's mean/stddev —
    * the monitor that catches a broken producer or a silent drop
    * before it poisons downstream stats. Days are pure int64 epoch
    * arithmetic (the es_retention lesson); the SPC window runs over the
    * per-(type, day) AGGREGATE (types × days rows), not raw events.
    * The z-score is emitted r6-rounded rather than as a thresholded
    * boolean: a boundary case differing by one ulp across engines
    * would flip a boolean, while the rounded score stays comparable —
    * thresholding is the caller's one-liner.
    */
  private def dqDrift(s: SparkSession, d: String): DataFrame = {
    val DayUs = 86400L * 1000000
    val daily = Tables.events(s, d)
      .withColumn("tus", tsUs(col("ts")))
      .select(col("event_type"),
        expr(s"CAST(tus div ${DayUs}L AS BIGINT)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sigma", stddev_pop(col("n")).over(w))
      .filter(col("n_prior") === 7)
      .select(col("event_type"), col("day"), col("n"), r6(col("mu")).as("mu"),
        r6(col("sigma")).as("sigma"),
        when(col("sigma") > 0,
          r6((col("n") - col("mu")) / col("sigma"))).as("z"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dq_psi", dqPsi _, Oracle(
      """WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us
        |  FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |ref AS (SELECT event_type, value FROM ev, mm WHERE us <= mid),
        |cur AS (SELECT event_type, value FROM ev, mm WHERE us > mid),
        |cuts AS (SELECT event_type,
        |    round(quantile_cont(value, 0.1), 6) AS t1,
        |    round(quantile_cont(value, 0.2), 6) AS t2,
        |    round(quantile_cont(value, 0.3), 6) AS t3,
        |    round(quantile_cont(value, 0.4), 6) AS t4,
        |    round(quantile_cont(value, 0.5), 6) AS t5,
        |    round(quantile_cont(value, 0.6), 6) AS t6,
        |    round(quantile_cont(value, 0.7), 6) AS t7,
        |    round(quantile_cont(value, 0.8), 6) AS t8,
        |    round(quantile_cont(value, 0.9), 6) AS t9
        |  FROM ref GROUP BY event_type),
        |rb AS (SELECT r.event_type,
        |    1 + (CASE WHEN value > t1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t7 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t8 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t9 THEN 1 ELSE 0 END) AS bin
        |  FROM ref r JOIN cuts USING (event_type)),
        |rc AS (SELECT event_type, bin, count(*) AS cr FROM rb
        |       GROUP BY event_type, bin),
        |cb AS (SELECT c.event_type,
        |    1 + (CASE WHEN value > t1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t7 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t8 THEN 1 ELSE 0 END)
        |      + (CASE WHEN value > t9 THEN 1 ELSE 0 END) AS bin
        |  FROM cur c JOIN cuts USING (event_type)),
        |cc AS (SELECT event_type, bin, count(*) AS cc FROM cb
        |       GROUP BY event_type, bin),
        |bins AS (SELECT event_type, unnest(range(1, 11)) AS bin
        |  FROM (SELECT DISTINCT event_type FROM ev)),
        |d0 AS (SELECT b.event_type, b.bin,
        |    coalesce(rc.cr, 0) AS cr, coalesce(cc.cc, 0) AS cc
        |  FROM bins b LEFT JOIN rc USING (event_type, bin)
        |    LEFT JOIN cc USING (event_type, bin)),
        |d1 AS (SELECT *,
        |    sum(cr) OVER (PARTITION BY event_type) AS nr,
        |    sum(cc) OVER (PARTITION BY event_type) AS nc FROM d0),
        |t AS (SELECT event_type, nr, nc,
        |    greatest(CAST(cr AS DOUBLE) / nr, 1e-6) AS p,
        |    greatest(CAST(cc AS DOUBLE) / nc, 1e-6) AS q FROM d1)
        |SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur,
        |  CASE WHEN max(nr) > 0 AND max(nc) > 0 THEN
        |    round(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,18)))
        |      AS DOUBLE), 6) END AS psi
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QuerySpec("es_cohort_ltv", esCohortLtv _, Oracle(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type,
        |    value FROM events),
        |coh AS (SELECT user_id, min(us) AS c_us,
        |    min(us) // 604800000000 AS cohort_week
        |  FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*) AS n_users FROM coh
        |       GROUP BY cohort_week),
        |rev AS (SELECT coh.cohort_week,
        |    (e.us - coh.c_us) // 604800000000 AS age_week,
        |    CAST(sum(CAST(CASE WHEN e.event_type = 'purchase'
        |      THEN e.value ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
        |      AS rev
        |  FROM ev e JOIN coh USING (user_id)
        |  GROUP BY coh.cohort_week, age_week),
        |c AS (SELECT cohort_week, age_week,
        |    CAST(sum(CAST(rev AS DECIMAL(38,6))) OVER (
        |      PARTITION BY cohort_week ORDER BY age_week) AS DOUBLE)
        |      AS cum_rev
        |  FROM rev)
        |SELECT c.cohort_week, c.age_week, sz.n_users,
        |  round(c.cum_rev, 6) AS cum_rev,
        |  round(c.cum_rev / sz.n_users, 6) AS ltv_per_user
        |FROM c JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, age_week""".stripMargin)),
    QuerySpec("w22_rolling_corr", w22RollingCorr _, Oracle(
      """WITH b AS (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        |    CAST(l_quantity AS DECIMAL(19,6)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(19,6)) AS y FROM lineitem),
        |w AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(count(*) OVER fr AS DOUBLE) AS n,
        |    CAST(sum(x) OVER fr AS DOUBLE) AS sx,
        |    CAST(sum(y) OVER fr AS DOUBLE) AS sy,
        |    CAST(sum(x * x) OVER fr AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) OVER fr AS DOUBLE) AS syy,
        |    CAST(sum(x * y) OVER fr AS DOUBLE) AS sxy
        |  FROM b
        |  WINDOW fr AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN round((n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    END AS roll_corr
        |FROM w ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec.sql("a29_ks",
      """WITH li AS (SELECT l_returnflag AS side, l_quantity AS v
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N')),
        |g AS (SELECT v,
        |    sum(CASE WHEN side = 'A' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN side = 'N' THEN 1 ELSE 0 END) AS cn
        |  FROM li GROUP BY v),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |    sum(cn) OVER (ORDER BY v) AS cumn FROM g),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN side = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN side = 'N' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_n
        |  FROM li)
        |SELECT n_a, n_n, round(max(abs(CAST(cuma AS DOUBLE) / n_a
        |  - CAST(cumn AS DOUBLE) / n_n)), 6) AS ks_stat
        |FROM c, t GROUP BY n_a, n_n""".stripMargin),
    QuerySpec("dq_mad", dqMad _, Oracle(
      """WITH m AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY event_type),
        |d AS (SELECT e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS ad
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n, max(d.med) AS med,
        |  max(md.mad) AS mad,
        |  CAST(sum(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),
    QuerySpec("dq_profile", dqProfile _, Oracle(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count($c) AS n_non_null, count(DISTINCT $c) AS n_distinct,
           |  min($c) AS vmin, max($c) AS vmax,
           |  round(avg($c), 6) AS vmean FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),
    QuerySpec("es_rfm", esRfm _, Oracle(
      """WITH f AS (SELECT max(epoch_us(ts)) AS f_us FROM events),
        |u AS (SELECT user_id,
        |    (f_us - max(epoch_us(ts))) // 86400000000 AS recency_d,
        |    count(*) AS frequency, round(sum(value), 6) AS monetary
        |  FROM events, f GROUP BY user_id, f_us),
        |t AS (SELECT
        |    round(quantile_cont(recency_d, 1.0/3), 6) AS rt1,
        |    round(quantile_cont(recency_d, 2.0/3), 6) AS rt2,
        |    round(quantile_cont(frequency, 1.0/3), 6) AS ft1,
        |    round(quantile_cont(frequency, 2.0/3), 6) AS ft2,
        |    round(quantile_cont(monetary, 1.0/3), 6) AS mt1,
        |    round(quantile_cont(monetary, 2.0/3), 6) AS mt2 FROM u)
        |SELECT user_id, recency_d, frequency, monetary,
        |  CAST(4 - (1 + CAST(recency_d > rt1 AS INT)
        |    + CAST(recency_d > rt2 AS INT)) AS INT) AS r_score,
        |  CAST(1 + CAST(frequency > ft1 AS INT)
        |    + CAST(frequency > ft2 AS INT) AS INT) AS f_score,
        |  CAST(1 + CAST(monetary > mt1 AS INT)
        |    + CAST(monetary > mt2 AS INT) AS INT) AS m_score
        |FROM u, t ORDER BY user_id""".stripMargin)),
    QuerySpec("es_paths", esPaths _, Oracle(
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn FROM events),
        |p AS (SELECT user_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),
    QuerySpec.sql("dq_dup_keys",
      """WITH e AS (SELECT count(*) AS c FROM events GROUP BY event_id),
        |o AS (SELECT count(*) AS c FROM orders GROUP BY o_orderkey),
        |l AS (SELECT count(*) AS c FROM lineitem
        |  GROUP BY l_orderkey, l_linenumber),
        |u AS (
        |  SELECT 'events' AS table_name, CAST(sum(c) AS BIGINT) AS n_rows,
        |    count(*) AS n_keys,
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dup_keys, max(c) AS max_mult FROM e
        |  UNION ALL
        |  SELECT 'orders', CAST(sum(c) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    max(c) FROM o
        |  UNION ALL
        |  SELECT 'lineitem', CAST(sum(c) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    max(c) FROM l)
        |SELECT * FROM u""".stripMargin),
    QuerySpec.sql("dq_referential",
      """WITH checks AS (
        |  SELECT 'customer.nation' AS relationship, c_nationkey AS k,
        |    n_nationkey AS hit FROM customer
        |    LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation)
        |      ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT 'lineitem.orders', l_orderkey, o_orderkey FROM lineitem
        |    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders)
        |      ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem.part', l_partkey, p_partkey FROM lineitem
        |    LEFT JOIN (SELECT DISTINCT p_partkey FROM part)
        |      ON l_partkey = p_partkey
        |  UNION ALL
        |  SELECT 'lineitem.supplier', l_suppkey, s_suppkey FROM lineitem
        |    LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier)
        |      ON l_suppkey = s_suppkey
        |  UNION ALL
        |  SELECT 'nation.region', n_regionkey, r_regionkey FROM nation
        |    LEFT JOIN (SELECT DISTINCT r_regionkey FROM region)
        |      ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT 'orders.customer', o_custkey, c_custkey FROM orders
        |    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer)
        |      ON o_custkey = c_custkey
        |  UNION ALL
        |  SELECT 'supplier.nation', s_nationkey, n_nationkey FROM supplier
        |    LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation)
        |      ON s_nationkey = n_nationkey)
        |SELECT relationship, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN k IS NOT NULL AND hit IS NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_fk
        |FROM checks GROUP BY relationship""".stripMargin),
    QuerySpec("es_ab_test", esAbTest _, Oracle(
      """WITH per AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS purchases
        |  FROM events GROUP BY user_id),
        |st AS (SELECT count(*) AS n_users,
        |    CAST(sum(purchases) AS BIGINT) AS total_p FROM per),
        |armed AS (SELECT CASE WHEN
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 29, 4))::BIGINT
        |      % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CASE WHEN purchases * n_users > total_p THEN 1 ELSE 0 END
        |      AS converted
        |  FROM per, st),
        |arms AS (SELECT arm, count(*) AS n,
        |    CAST(sum(converted) AS BIGINT) AS conv
        |  FROM armed GROUP BY arm),
        |w AS (SELECT
        |    min(CASE WHEN arm = 'A' THEN n END) AS n_a,
        |    min(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
        |    min(CASE WHEN arm = 'B' THEN n END) AS n_b,
        |    min(CASE WHEN arm = 'B' THEN conv END) AS conv_b
        |  FROM arms),
        |p AS (SELECT *,
        |    CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        |  FROM w)
        |SELECT n_a, conv_a,
        |  round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  n_b, conv_b,
        |  round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  round(CASE WHEN p_pool > 0 AND p_pool < 1 THEN
        |    (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
        |    / sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_a + 1.0 / n_b))
        |  END, 6) AS z
        |FROM p""".stripMargin)),
    QuerySpec.sql("es_cooccur",
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin),
    QuerySpec("dq_freshness", dqFreshness _, Oracle(
      """WITH t AS (SELECT event_type, count(*) AS n,
        |    max(epoch_us(ts)) AS last_us FROM events GROUP BY 1),
        |f AS (SELECT max(epoch_us(ts)) AS frontier_us FROM events)
        |SELECT event_type, n, last_us, frontier_us - last_us AS lag_us,
        |  CAST(frontier_us - last_us > 172800000000 AS INT) AS stale
        |FROM t, f ORDER BY event_type""".stripMargin)),
    QuerySpec("es_transitions", esTransitions _, Oracle(
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin)),
    QuerySpec("dq_drift", dqDrift _, Oracle(
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |spc AS (SELECT event_type, day, n,
        |    count(*) OVER w AS n_prior,
        |    avg(n) OVER w AS mu,
        |    stddev_pop(n) OVER w AS sigma
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n, round(mu, 6) AS mu,
        |  round(sigma, 6) AS sigma,
        |  CASE WHEN sigma > 0 THEN round((n - mu) / sigma, 6) END AS z
        |FROM spc WHERE n_prior = 7
        |ORDER BY event_type, day""".stripMargin)),
    QuerySpec.sql("dq_rules",
      """WITH j AS (SELECT l.*, o.o_orderkey AS ok FROM lineitem l
        |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |a AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS r_qty,
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1
        |    ELSE 0 END) AS BIGINT) AS r_disc,
        |  CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS r_price,
        |  CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS r_tax,
        |  CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS r_fk FROM j)
        |SELECT rule, CASE rule WHEN 'discount_in_unit_interval' THEN r_disc
        |  WHEN 'orderkey_fk_resolves' THEN r_fk
        |  WHEN 'price_non_negative' THEN r_price
        |  WHEN 'quantity_positive' THEN r_qty
        |  WHEN 'tax_not_null' THEN r_tax END AS n_violations,
        |  n AS n_checked
        |FROM a CROSS JOIN (VALUES ('discount_in_unit_interval'),
        |  ('orderkey_fk_resolves'), ('price_non_negative'),
        |  ('quantity_positive'), ('tax_not_null')) AS r(rule)""".stripMargin),
    QuerySpec("es_attribution", esAttribution _, Oracle(
      """SELECT user_id, purchase_id, purchase_ts_us, click_id, gap_us
        |FROM (
        |  SELECT user_id, event_type, event_id AS purchase_id,
        |    epoch_us(ts) AS purchase_ts_us,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS click_id,
        |    epoch_us(ts) - last_value(CASE WHEN event_type = 'click'
        |      THEN epoch_us(ts) END IGNORE NULLS) OVER w AS gap_us
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin)),
    QuerySpec("es_retention", esRetention _, Oracle(
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS n_cohort FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_week, uw.wk - c.cohort_week AS "offset",
        |         count(*) AS n_active
        |       FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a."offset", a.n_active, sz.n_cohort,
        |  round(CAST(a.n_active AS DOUBLE) / sz.n_cohort, 6) AS retention
        |FROM a JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, "offset"""".stripMargin)),
    QuerySpec("es_funnel", esFunnel _, Oracle(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |s1 AS (SELECT user_id, min(tus) AS t_view FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tus) AS t_click
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND tus > t_view GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tus) AS t_purchase
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > t_click GROUP BY 1)
        |SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
        |  CASE WHEN s3.t_purchase IS NOT NULL THEN 3
        |       WHEN s2.t_click IS NOT NULL THEN 2
        |       WHEN s1.t_view IS NOT NULL THEN 1 ELSE 0 END AS depth
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin)),
    QuerySpec.sql("a23_histogram",
      """SELECT CAST(floor(value / 25) AS BIGINT) AS bin, count(*) AS n,
        |  round(avg(value), 6) AS avg_in_bin
        |FROM events GROUP BY bin""".stripMargin),
    QuerySpec("a22_arg_minmax", a22ArgMinmax _, Oracle(
      """WITH k AS (SELECT user_id, event_type,
        |  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '-' ||
        |    lpad(CAST(event_id AS VARCHAR), 10, '0') AS key
        |FROM events)
        |SELECT user_id, arg_min(event_type, key) AS first_type,
        |  arg_max(event_type, key) AS last_type, count(*) AS n
        |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QuerySpec("w16_rolling_median", w16RollingMedian _, Oracle(
      """SELECT event_id,
        |  round(median(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
        |FROM events ORDER BY event_id""".stripMargin)),
    QuerySpec("w17_ewma", w17Ewma _, Oracle(
      """WITH f AS (SELECT event_id, list(value) OVER w AS arr
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |g AS (SELECT event_id, arr, len(arr) AS n FROM f)
        |SELECT event_id, round(
        |  list_sum(list_transform(range(1, n + 1),
        |    i -> arr[CAST(i AS INT)] * pow(0.8, n - i))) /
        |  list_sum(list_transform(range(1, n + 1),
        |    i -> pow(0.8, CAST(n - i AS DOUBLE)))), 6) AS ewma20
        |FROM g ORDER BY event_id""".stripMargin)),
    QuerySpec.sql("ml_class_weights",
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS k FROM c)
        |SELECT label, n, round(total / (k * n), 6) AS weight
        |FROM c, t""".stripMargin),
    QuerySpec("ta_normalize", taNormalize _, Oracle(
      s"""SELECT doc_id,
         |  md5(${TextAnalysis.normTextSql("text")}) AS norm_hash,
         |  CAST(len(${TextAnalysis.normTextSql("text")}) AS INT) AS n_norm
         |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("w14_rolling_distinct", w14RollingDistinct _, Oracle(
      """SELECT event_id,
        |  CAST(len(list_distinct(list(event_type) OVER w)) AS INT)
        |    AS d_types_5
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),
    QuerySpec.sql("a24_topk_agg",
      """WITH ranked AS (SELECT event_type, event_id, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS INT) AS rnk FROM events)
        |SELECT event_type, rnk, event_id, round(value, 6) AS value
        |FROM ranked WHERE rnk <= 3""".stripMargin),
    QuerySpec.sql("w13_distribution",
      """SELECT event_id,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdf
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin),
    QuerySpec.sql("w11_range_frame",
      """SELECT event_id,
        |  count(*) OVER w AS n_in_band,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
        |    AS band_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value
        |  RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)""".stripMargin),
    QuerySpec.sql("a19_bool_agg",
      """SELECT event_type, bool_and(value > 0) AS all_pos,
        |  bool_or(value > 400) AS any_big, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),
    QuerySpec("a21_string_agg", a21StringAgg _, Oracle(
      """SELECT user_id,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',')
        |    AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QuerySpec("w10_first_last", w10FirstLast _, Oracle(
      """SELECT event_id,
        |  round(first_value(value) OVER w, 6) AS first_v,
        |  round(last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING), 6) AS last_v,
        |  round(nth_value(value, 2) OVER w, 6) AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin)),
    QuerySpec("p13_pivot", p13Pivot _, Oracle {
      val cols = EventTypes.map(t =>
        s"round(avg(value) FILTER (event_type = '$t'), 6) AS \"$t\"")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    }),
    QuerySpec.sql("a17_distinct_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS d_parts,
        |  CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sd_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec.sql("a18_corr",
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_pop(l_quantity, l_extendedprice), 6) AS cov_p,
        |  round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_s
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec.sql("w9_rank_family",
      """SELECT event_id,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin),
    QuerySpec("ta_bigrams", taBigrams _, Oracle {
      val sh2 = {
        val parts = (0 until 2).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""list_distinct(CASE WHEN len(w) >= 2
           | THEN list_transform(range(1, len(w)), i -> $parts)
           | ELSE [] END)""".stripMargin.replace("\n", "")
      }
      s"""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |t AS (SELECT doc_id, $sh2 AS sh FROM w0),
         |e AS (SELECT unnest(sh) AS bigram FROM t)
         |SELECT bigram, count(*) AS df FROM e
         |GROUP BY bigram ORDER BY df DESC, bigram LIMIT 20""".stripMargin
    }))
}
