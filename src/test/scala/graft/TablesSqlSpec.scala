package graft

/** [[Tables.sql]], the build of every one-text query: it binds table
  * names to one dir's loaded plans, CTE bodies included, without temp
  * views, and refuses a name it cannot bind to a table or a CTE.
  */
class TablesSqlSpec extends GraftSuite {

  private val sf01 =
    java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  test("one session builds a query on two dirs, each reading its own") {
    // The gates' shape: both frames built before either runs
    val q = SparkEntry.queries("s3_table_scan")
    val (small, big) = (q(spark, sf), q(spark, sf01))
    assert(small.count() == Tables.supplier(spark, sf).count())
    assert(big.count() == Tables.supplier(spark, sf01).count())
    assert(big.count() > small.count())
  }

  test("tables inside CTE bodies and subqueries are bound") {
    val df = Tables.sql(spark, sf,
      """WITH li AS (SELECT l_orderkey FROM lineitem),
        |  o AS (WITH x AS (SELECT o_orderkey FROM orders) SELECT * FROM x)
        |SELECT count(*) AS n FROM li
        |WHERE EXISTS (SELECT 1 FROM o WHERE o_orderkey = l_orderkey)""".stripMargin)
    assert(df.first().getLong(0) == Tables.lineitem(spark, sf).count())
  }

  test("a CTE that shadows a table is refused by name") {
    val e = intercept[IllegalArgumentException](Tables.sql(spark, sf,
      "WITH lineitem AS (SELECT 1 AS x) SELECT * FROM lineitem"))
    assert(e.getMessage.contains("'lineitem'"), e.getMessage)
  }

  test("a relation that is neither a table nor a CTE is refused by name") {
    // a temp view in the caller's catalog must not be picked up either
    Tables.supplier(spark, sf).createOrReplaceTempView("graft_probe_view")
    try {
      Seq("no_such_table", "graft_probe_view").foreach { n =>
        val e = intercept[IllegalArgumentException](
          Tables.sql(spark, sf, s"SELECT * FROM $n"))
        assert(e.getMessage.contains(s"'$n'"), e.getMessage)
      }
    } finally spark.catalog.dropTempView("graft_probe_view")
  }
}
