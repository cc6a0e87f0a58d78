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

  test("gridQuantiles per-group joins carry no broadcast hint") {
    // The per-group frames (the group totals, the quantile result) have
    // one row per GROUP; a caller may group by a high-cardinality key,
    // where a compile-time broadcast would collect every group's
    // quantiles to the driver. Identify those two joins STRUCTURALLY in
    // the analyzed plan (hints resolve to strategies later) and assert
    // the property directionally — an exact ResolvedHint count would
    // break on any Spark change to hint resolution without a real
    // regression:
    //  - the join-back onto the group list is the plan's only left
    //    outer join;
    //  - the tot join's right side is the Aggregate producing `n`.
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      LogicalPlan, ResolvedHint}
    val li = Tables.lineitem(spark, sf)
    val analyzed = operators.Relational
      .gridQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.5 -> "p50"))
      .queryExecution.analyzed
    def unhint(p: LogicalPlan): LogicalPlan = p match {
      case ResolvedHint(c, _) => c
      case other => other
    }
    def hintedRoot(p: LogicalPlan): Boolean = p.isInstanceOf[ResolvedHint]
    val perGroupJoins = analyzed.collect {
      case j: Join if j.joinType == LeftOuter => j
      case j: Join if unhint(j.right).isInstanceOf[Aggregate] &&
        unhint(j.right).output.exists(_.name == "n") => j
    }
    assert(perGroupJoins.size >= 2 &&
      perGroupJoins.forall(j => !hintedRoot(j.left) && !hintedRoot(j.right)),
      s"the per-group joins must stay unhinted: " +
        perGroupJoins.map(j => s"${j.left.nodeName}/${j.right.nodeName}")
          .mkString(", "))
  }

  test("grouped quantiles equal the builtin percentile on NULL groups") {
    // Three groups: a normal one, a NULL-keyed one and one whose values
    // are all NULL. The library's grouped quantiles (the w8_percentiles
    // path) must return the builtin's row set and values for each.
    val s = spark
    import s.implicits._
    val df = Seq[(Option[String], Option[Double])](
      (Some("a"), Some(1.0)), (Some("a"), Some(2.0)), (Some("a"), Some(7.5)),
      (Some("a"), None), (None, Some(3.0)), (None, Some(5.0)),
      (Some("c"), None), (Some("c"), None)).toDF("g", "v")
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.toList).sortBy(r => String.valueOf(r.head))
        .toList
    val got = canon(operators.Relational.gridQuantiles(df, Seq("g"), "v", ps))
    val builtin = canon(df.groupBy("g").agg(
      r6(percentile(col("v"), lit(0.5))).as("p50"),
      r6(percentile(col("v"), lit(0.9))).as("p90")))
    assert(builtin.size == 3)
    assert(got == builtin, s"\n$got\n$builtin")
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
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val joins = PlanNodes.joins(run("j1_broadcast_join"))
    assert(joins.size == 3 && joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected three broadcast joins: ${joins.map(_.nodeName)}")
  }

  test("o2 top-k plans TakeOrderedAndProject (no global sort)") {
    val plan = run("o2_topk_recent").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("p1 projection prunes the parquet scan to selected columns") {
    val scans = PlanNodes.scansOf(run("p1_project"), "l_orderkey")
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      "scan should not read unused columns: " + scans.head.requiredSchema)
  }

  test("p4 filter is pushed down to the parquet scan") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, In, Literal}
    val scans = PlanNodes.scansOf(run("p4_isin"), "l_returnflag")
    assert(scans.size == 1)
    val ins = scans.head.dataFilters.collect {
      case In(a: Attribute, vs) if a.name == "l_returnflag" =>
        vs.collect { case l: Literal => l.toString }.toSet
    }
    assert(ins == Seq(Set("A", "R")),
      s"pushed filters: ${scans.head.dataFilters}")
  }

  test("u1 union equals direct aggregation (append protocol)") {
    val direct = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n")).orderBy("event_type").collect()
    val unioned = run("u1_union").orderBy("event_type").collect()
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
