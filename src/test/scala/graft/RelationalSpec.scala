package graft

import org.apache.spark.sql.functions._

/** Smoke + invariant tests for the relational inventory at sf0.001 (the
  * DuckDB differential at sf0.01 is the authoritative value check; these
  * guard plan-level regressions fast).
  */
class RelationalSpec extends GraftSuite {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every declared query runs and respects its declared schema") {
    SparkEntry.queries.keys.foreach { name =>
      val df = run(name)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.limit(1).count() >= 0, s"$name failed to execute")
    }
  }

  test("gridQuantiles high-cardinality fallback is bit-equal, no broadcast") {
    // lowCardGroups = false is the documented escape hatch for callers
    // grouping by a high-cardinality key, where broadcasting the
    // per-group frames would collect every group's quantiles to the
    // driver. Values must be bit-equal to the default path, and the
    // per-group joins must carry no compile-time broadcast hint (the
    // logical plan keeps plain joins for the shuffle path).
    val li = Tables.lineitem(spark, sf)
    def canon(lowCard: Boolean) = operators.Relational
      .gridQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.5 -> "p50", 0.9 -> "p90"), lowCardGroups = lowCard)
      .collect().map(_.toString).sorted.toSeq
    assert(canon(lowCard = true) == canon(lowCard = false))
    // rangeCumsum's internal grid-sized broadcasts remain; the
    // GROUP-cardinality frames (tot join, quantile join-back) must not
    // hint. Identify those two joins STRUCTURALLY in the analyzed plan
    // (hints resolve to strategies later) and assert the property
    // directionally — an exact ResolvedHint count would break on any
    // Spark change to hint resolution without a real regression:
    //  - the join-back is the plan's only null-safe (<=>) join;
    //  - the tot join's right side is the Aggregate producing `n`.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
    def analyzed(lowCard: Boolean): LogicalPlan = operators.Relational
      .gridQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.5 -> "p50"), lowCardGroups = lowCard)
      .queryExecution.analyzed
    def unhint(p: LogicalPlan): LogicalPlan = p match {
      case ResolvedHint(c, _) => c
      case other => other
    }
    def hintedRoot(p: LogicalPlan): Boolean = p.isInstanceOf[ResolvedHint]
    def perGroupJoins(plan: LogicalPlan): Seq[Join] = plan.collect {
      case j: Join if j.condition
        .exists(_.exists(_.isInstanceOf[EqualNullSafe])) => j
      case j: Join if unhint(j.right).isInstanceOf[Aggregate] &&
        unhint(j.right).output.exists(_.name == "n") => j
    }
    val defJoins = perGroupJoins(analyzed(lowCard = true))
    assert(defJoins.size >= 2 && defJoins.forall(j => hintedRoot(j.right)),
      s"default path should broadcast-hint both per-group joins: " +
        defJoins.map(_.right.nodeName).mkString(", "))
    val fbJoins = perGroupJoins(analyzed(lowCard = false))
    assert(fbJoins.size >= 2 &&
      fbJoins.forall(j => !hintedRoot(j.left) && !hintedRoot(j.right)),
      s"fallback must leave the per-group joins unhinted: " +
        fbJoins.map(j => s"${j.left.nodeName}/${j.right.nodeName}")
          .mkString(", "))
  }

  test("s1 text roundtrip is lossless") {
    val parsed = run("s1_text_scan")
    val orig = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount")
    assert(parsed.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(parsed).count() == 0)
  }

  test("a1 group multi-agg: group counts sum to table size") {
    val total = run("a1_group_multi").agg(sum("n")).first().getLong(0)
    assert(total == Tables.lineitem(spark, sf).count())
  }

  test("j1 broadcast join plans a broadcast, not a shuffle join") {
    val plan = run("j1_broadcast_join").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("o2 top-k plans TakeOrderedAndProject (no global sort)") {
    val plan = run("o2_topk_recent").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("p1 projection prunes the parquet scan to selected columns") {
    val plan = run("p1_project").queryExecution.executedPlan.toString
    assert(!plan.contains("l_shipdate"), "scan should not read unused columns")
  }

  test("p4 filter is pushed down to the parquet scan") {
    val plan = run("p4_isin").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(l_returnflag"), s"plan was:\n$plan")
  }

  test("u1 union equals direct aggregation (append protocol)") {
    val direct = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n")).orderBy("event_type").collect()
    val unioned = run("u1_union").collect()
    assert(direct.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      unioned.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("approx distinct bound flags hold against exact counts") {
    val r = run("a16_approx_distinct").first()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
    assert(r.getBoolean(2), "user_id HLL estimate outside 3-sigma bound")
    assert(r.getBoolean(3), "value HLL estimate outside 3-sigma bound")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
