package graft

import graft.plans.GridOrderStatsRule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Glue

/** GridOrderStatsRule: the optimizer rewrite of median()/percentile()
  * into the distributed value-grid plan must be invisible — same rows,
  * same bits — while removing the buffering Percentile aggregate from
  * the plan. Baseline results come from the UNTOUCHED shared session;
  * rewritten results from a cloned session with the rule installed.
  */
class GridRewriteSpec extends GraftSuite {

  private lazy val rewritten: SparkSession = {
    val s = Glue.cloneSession(spark)
    GridOrderStatsRule.install(s)
    s
  }

  /** Fixture with every interpolation edge: odd/even group sizes, heavy
    * duplicates (equal bracketing keys), single-value groups, an
    * all-NULL group, NULLs mixed into live groups, and a NULL group key.
    */
  private def fixture(s: SparkSession): Unit = {
    import s.implicits._
    val rows: Seq[(Option[String], Option[Double])] =
      (1 to 97).map(i => (Some("a"), Some((i * 37 % 19).toDouble / 4))) ++ // odd, dups
      (1 to 96).map(i => (Some("b"), Some(math.sin(i).abs * 100))) ++      // even, continuous
      Seq((Some("c"), Some(42.0))) ++                                      // single value
      Seq((Some("d"), None), (Some("d"), None)) ++                         // all-NULL group
      (1 to 10).map(i => (Some("e"),
        if (i % 3 == 0) None else Some(i.toDouble))) ++                    // mixed NULLs
      Seq((None, Some(7.0)), (None, Some(9.0)))                            // NULL key
    // Second value column, row-set-misaligned with v: NULL where v is
    // large (so per-column grids see DIFFERENT group row sets — group
    // "c" is all-NULL in w but live in v) — the multi-grid join-back's
    // edge case.
    rows.zipWithIndex.map { case ((k, v), i) =>
      (k, v, v.filter(_ < 40.0).map(x => x * 3 + i % 7)) }
      .toDF("k", "v", "w").createOrReplaceTempView("grs")
  }

  private val grouped =
    """SELECT k, median(v) AS med, percentile(v, 0.9) AS p90,
      |  percentile(v, 0.25) AS q1
      |FROM grs GROUP BY k""".stripMargin

  test("rewrite removes the buffering aggregate from the plan") {
    fixture(rewritten)
    val qe = rewritten.sql(grouped).queryExecution
    val opt = qe.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("percentile"), opt.take(1500))
    // The grid shape is present: the distinct-value collapse aggregate
    // and the two-phase cumsum windows.
    assert(opt.contains("Window"), opt.take(1500))
    // Baseline keeps the buffering form.
    fixture(spark)
    assert(spark.sql(grouped).queryExecution.optimizedPlan
      .toString.toLowerCase.contains("percentile"))
  }

  test("grouped results are bit-identical to the builtin") {
    fixture(spark); fixture(rewritten)
    def canon(s: SparkSession) = s.sql(grouped).collect()
      .map(r => (Option(r.get(0)),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .sortBy(_._1.map(_.toString).getOrElse(""))
    val base = canon(spark)
    val grid = canon(rewritten)
    assert(base.length == grid.length && base.length == 6)
    base.zip(grid).foreach { case (b, g) => assert(b == g, s"\n$b\n$g") }
    // The all-NULL group survives with NULL quantiles in both.
    assert(base.exists(r => r._1.contains("d") && r._2.isEmpty))
  }

  test("global + empty-input aggregates keep the one-row contract") {
    fixture(spark); fixture(rewritten)
    val globalSql = "SELECT median(v) AS med, percentile(v, 0.75) AS q FROM grs"
    val b = spark.sql(globalSql).collect()
    val g = rewritten.sql(globalSql).collect()
    assert(b.length == 1 && g.length == 1)
    assert(b.head.getDouble(0) == g.head.getDouble(0))
    assert(b.head.getDouble(1) == g.head.getDouble(1))
    val emptySql =
      "SELECT median(v) AS med FROM grs WHERE v > 1e18"
    val be = spark.sql(emptySql).collect()
    val ge = rewritten.sql(emptySql).collect()
    assert(be.length == 1 && ge.length == 1)
    assert(be.head.isNullAt(0) && ge.head.isNullAt(0))
  }

  test("percentile_cont lowers to the same rewrite") {
    fixture(rewritten)
    val sql =
      """SELECT k, percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS med
        |FROM grs GROUP BY k""".stripMargin
    val qe = rewritten.sql(sql).queryExecution
    assert(!qe.optimizedPlan.toString.toLowerCase.contains("percentile"))
    fixture(spark)
    val b = spark.sql(sql).collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)))).sortBy(_._1.map(_.toString))
    val g = rewritten.sql(sql).collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)))).sortBy(_._1.map(_.toString))
    assert(b.toSeq == g.toSeq)
  }

  test("array-percentage form rewrites with the builtin's array shape") {
    fixture(spark); fixture(rewritten)
    val sql =
      """SELECT k, percentile(v, array(0.25, 0.5, 0.75, 0.99)) AS qs
        |FROM grs GROUP BY k""".stripMargin
    val qe = rewritten.sql(sql).queryExecution
    assert(!qe.optimizedPlan.toString.toLowerCase.contains("percentile"))
    def canon(s: org.apache.spark.sql.SparkSession) = s.sql(sql).collect()
      .map(r => (Option(r.get(0)).map(_.toString),
        if (r.isNullAt(1)) null else r.getSeq[Double](1).toList))
      .sortBy(_._1.getOrElse(""))
    val b = canon(spark)
    val g = canon(rewritten)
    assert(b.length == g.length)
    b.zip(g).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
    // Schema parity, including containsNull=false on the element type.
    assert(spark.sql(sql).schema == rewritten.sql(sql).schema)
    // The all-NULL group yields a NULL array, not an array of NULLs.
    assert(b.exists(r => r._1.contains("d") && r._2 == null))
  }

  test("out-of-scope shapes keep the builtin and stay correct") {
    fixture(spark); fixture(rewritten)
    // DISTINCT, FILTER, and a Percentile mixed with ANOTHER aggregate
    // in one expression: all must NOT be rewritten — and still agree
    // with the baseline session.
    val guards = Seq(
      "SELECT k, percentile(DISTINCT v, 0.5) AS med FROM grs GROUP BY k",
      "SELECT k, percentile(v, 0.5) FILTER (WHERE v > 1) AS med " +
        "FROM grs GROUP BY k",
      "SELECT k, median(v) / count(*) AS ratio FROM grs GROUP BY k")
    guards.foreach { q =>
      val qe = rewritten.sql(q).queryExecution
      assert(qe.optimizedPlan.toString.toLowerCase.contains("percentile"),
        s"should not rewrite: $q")
      val b = spark.sql(q).collect().map(_.toString).sorted.toSeq
      val g = rewritten.sql(q).collect().map(_.toString).sorted.toSeq
      assert(b == g, q)
    }
  }

  test("scalar arithmetic around percentiles rewrites bit-equal") {
    fixture(spark); fixture(rewritten)
    // The SQL everyone actually writes: rounded medians, IQR spans,
    // offsets, a repeated identical call, an array element — all
    // scalar trees over rewritable percentiles, all must take the grid
    // plan and agree with the builtin bit-for-bit.
    val q =
      """SELECT k, round(median(v), 2) AS med2, median(v) + 1 AS medp1,
        |  percentile(v, 0.75) - percentile(v, 0.25) AS iqr,
        |  percentile(v, array(0.1, 0.9))[1] AS p90_elem
        |FROM grs GROUP BY k""".stripMargin
    val opt = rewritten.sql(q).queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("percentile"), opt.take(1500))
    def canon(s: SparkSession) = s.sql(q).collect()
      .map(r => (0 until r.length).map(i => Option(r.get(i))).toList)
      .sortBy(_.head.map(_.toString).getOrElse(""))
    val b = canon(spark)
    val g = canon(rewritten)
    assert(b.length == g.length && b.length == 6)
    b.zip(g).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
    assert(spark.sql(q).schema == rewritten.sql(q).schema)
  }

  test("multi-column percentiles rewrite: one grid per value column") {
    fixture(spark); fixture(rewritten)
    // The plain-SQL a13 shape: medians of SEVERAL columns (+ plain
    // aggregates) in one GROUP BY. One grid per distinct value
    // expression, all joined back; group "c" is all-NULL in w but live
    // in v, so the join-back must produce NULL w-quantiles there while
    // keeping v's.
    val q =
      """SELECT k, median(v) AS med_v, median(w) AS med_w,
        |  percentile(w, 0.9) AS p90_w, count(*) AS n
        |FROM grs GROUP BY k""".stripMargin
    val opt = rewritten.sql(q).queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("percentile"), opt.take(1500))
    def canon(s: SparkSession) = s.sql(q).collect()
      .map(r => (0 until r.length).map(i => Option(r.get(i))).toList)
      .sortBy(_.head.map(_.toString).getOrElse(""))
    val b = canon(spark)
    val g = canon(rewritten)
    assert(b.length == g.length && b.length == 6)
    b.zip(g).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
    assert(g.exists(r => r.head.contains("c") && r(1).contains(42.0) &&
      r(2).isEmpty && r(3).isEmpty))
    // Global multi-column form keeps the one-row contract.
    val qg = "SELECT median(v) AS mv, median(w) AS mw FROM grs"
    assert(!rewritten.sql(qg).queryExecution.optimizedPlan
      .toString.toLowerCase.contains("percentile"))
    val bg = spark.sql(qg).collect()
    val gg = rewritten.sql(qg).collect()
    assert(bg.length == 1 && gg.length == 1)
    assert(bg.head.getDouble(0) == gg.head.getDouble(0))
    assert(bg.head.getDouble(1) == gg.head.getDouble(1))
  }

  test("multi-column rewrite reads the source once (shared pin)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    Tables.lineitem(rewritten, sf).createOrReplaceTempView("grs_scan2")
    val q =
      """SELECT l_returnflag, median(l_quantity) AS mq,
        |  median(l_extendedprice) AS mp, count(*) AS n
        |FROM grs_scan2 GROUP BY l_returnflag""".stripMargin
    val aqe = rewritten.conf.get("spark.sql.adaptive.enabled")
    rewritten.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = rewritten.sql(q)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case s: FileSourceScanExec => s }.isEmpty,
        plan.toString.take(2000))
      // Two grids + residual: at least three readers of the one entry.
      assert(plan.collect { case s: InMemoryTableScanExec => s }.size >= 3,
        plan.toString.take(2000))
    } finally rewritten.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("mixed rewrite reads the source exactly once (shared pin)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    Tables.lineitem(rewritten, sf).createOrReplaceTempView("grs_scan")
    val q =
      """SELECT l_returnflag, median(l_quantity) AS med, count(*) AS n,
        |  sum(l_extendedprice) AS sv
        |FROM grs_scan GROUP BY l_returnflag""".stripMargin
    // AQE off for the probe only: query stages hide subtrees from plan
    // traversal; the non-adaptive executedPlan shows every scan node.
    val aqe = rewritten.conf.get("spark.sql.adaptive.enabled")
    rewritten.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = rewritten.sql(q)
      df.collect() // materialize (and populate the pins) first
      val plan = df.queryExecution.executedPlan
      // Both consumers (grid collapse + residual Aggregate) must read
      // the pinned shared projection: the visible plan has NO direct
      // file scan — every source access routes through in-memory-table
      // scans of the one cache entry, so the parquet is read once
      // (when the cache populates).
      assert(plan.collect { case s: FileSourceScanExec => s }.isEmpty,
        plan.toString.take(2000))
      assert(plan.collect { case s: InMemoryTableScanExec => s }.size >= 2,
        plan.toString.take(2000))
    } finally rewritten.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("mixed sum/count legs rewrite; residual joins back bit-equal") {
    fixture(spark); fixture(rewritten)
    // Real BI SQL mixes median with plain aggregates in one GROUP BY —
    // v1 bailed on exactly this shape and kept the buffering builtin.
    // The percentile legs take the grid plan; the residual legs run as
    // an ordinary Aggregate joined back on the (null-safe) group key.
    val q =
      """SELECT k, median(v) AS med, count(*) AS n, sum(v) AS sv,
        |  avg(v) AS av, sum(v) / count(v) AS ratio,
        |  percentile(v, array(0.25, 0.75)) AS iqr
        |FROM grs GROUP BY k""".stripMargin
    val opt = rewritten.sql(q).queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("percentile"), opt.take(1500))
    def canon(s: SparkSession) = s.sql(q).collect()
      .map(r => (0 until r.length).map(i => Option(r.get(i))).toList)
      .sortBy(_.head.map(_.toString).getOrElse(""))
    val b = canon(spark)
    val g = canon(rewritten)
    assert(b.length == g.length && b.length == 6)
    b.zip(g).foreach { case (x, y) => assert(x == y, s"\n$x\n$y") }
    assert(spark.sql(q).schema == rewritten.sql(q).schema)
    // The all-NULL group keeps NULL quantiles but a live count(*).
    assert(g.exists(r => r.head.contains("d") && r(1).isEmpty &&
      r(2).contains(2L)))
    // The NULL group key joins back null-safely (present exactly once).
    assert(g.count(_.head.isEmpty) == 1)
  }

  test("global mixed legs keep the one-row contract, even on empty input") {
    fixture(spark); fixture(rewritten)
    val q = "SELECT median(v) AS med, count(*) AS n FROM grs"
    assert(!rewritten.sql(q).queryExecution.optimizedPlan
      .toString.toLowerCase.contains("percentile"))
    val b = spark.sql(q).collect()
    val g = rewritten.sql(q).collect()
    assert(b.length == 1 && g.length == 1)
    assert(b.head.getDouble(0) == g.head.getDouble(0))
    assert(b.head.getLong(1) == g.head.getLong(1))
    val qe = "SELECT median(v) AS med, count(*) AS n FROM grs WHERE v > 1e18"
    val be = spark.sql(qe).collect()
    val ge = rewritten.sql(qe).collect()
    assert(be.length == 1 && ge.length == 1)
    assert(be.head.isNullAt(0) && ge.head.isNullAt(0))
    assert(be.head.getLong(1) == 0 && ge.head.getLong(1) == 0)
  }

  test("join-back plan shape: runtime broadcast, Cross only for 1x1") {
    fixture(rewritten)
    // The join-back sides are group-cardinality frames with NO
    // compile-time broadcast hint (arbitrary SQL may group by a
    // high-cardinality key); for this 6-group query AQE must upgrade
    // the null-safe LeftOuter join-back to a broadcast join at
    // runtime, and nothing may plan a cartesian product.
    val df = rewritten.sql(
      "SELECT k, median(v) AS med, count(*) AS n FROM grs GROUP BY k")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // Global mixed form: the Cross join is whitelisted ONLY because
    // both sides are single-row aggregates — it must plan as a
    // broadcast nested loop, never CartesianProduct.
    val g = rewritten.sql("SELECT median(v) AS med, count(*) AS n FROM grs")
    g.collect()
    val gp = g.queryExecution.executedPlan.toString
    assert(!gp.contains("CartesianProduct"), gp.take(2000))
  }

  test("rewrite matches the builtin on a large continuous column") {
    // lineitem prices: ~6k rows, grid cardinality near row count — the
    // shape where interpolation almost always lands between two distinct
    // grid values.
    Tables.lineitem(spark, sf).createOrReplaceTempView("grs_li")
    Tables.lineitem(rewritten, sf).createOrReplaceTempView("grs_li")
    val q =
      """SELECT l_returnflag, median(l_extendedprice) AS med,
        |  percentile(l_extendedprice, 0.99) AS p99
        |FROM grs_li GROUP BY l_returnflag""".stripMargin
    val b = spark.sql(q).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val g = rewritten.sql(q).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(b.toSeq == g.toSeq)
  }
}
