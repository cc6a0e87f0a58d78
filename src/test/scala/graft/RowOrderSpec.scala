package graft

import org.apache.spark.sql.Row

/** Row order is part of a query's result only where the query says so:
  * the sort operators and the top-k/limit queries. Every other query
  * returns its rows in no particular order and builds no pre-sort
  * checkpoint, so a repeated run pins nothing new.
  */
class RowOrderSpec extends GraftSuite {

  // Query → its sort keys, each with `true` for ascending. `o4_offset`
  // is checked at sf0.01 below: its offset skips all ten suppliers at
  // sf0.001.
  private val ordered = Seq(
    "o1_sort" -> Seq("l_orderkey" -> true, "l_linenumber" -> true,
      "l_quantity" -> true),
    "o2_topk_recent" -> Seq("ts_us" -> false, "event_id" -> false),
    "o3_topn_value" -> Seq("value" -> false, "event_id" -> true),
    "o5_zorder" -> Seq("zkey" -> true, "l_orderkey" -> true,
      "l_linenumber" -> true))

  private def compareKeys(a: Row, b: Row, keys: Seq[(String, Boolean)]): Int =
    keys.iterator.map { case (k, asc) =>
      val c = a.getAs[Comparable[Any]](k).compareTo(b.getAs[Any](k))
      if (asc) c else -c
    }.find(_ != 0).getOrElse(0)

  test("the sort operators and top-k queries return rows in sort-key order") {
    for ((name, keys) <- ordered) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.length > 1, s"$name returned too few rows to order")
      rows.sliding(2).foreach { case Array(a, b) =>
        assert(compareKeys(a, b, keys) <= 0, s"$name: out of order at $a, $b")
      }
    }
  }

  test("o4_offset returns the 20 suppliers after the 10 smallest keys, in key order") {
    // the sf0.01 testdata beside sf0.001: 100 suppliers
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val keys = SparkEntry.queries("o4_offset")(spark, sf01).collect()
      .map(_.getAs[Long]("s_suppkey")).toSeq
    assert(keys.length == 20)
    assert(keys.sliding(2).forall { case Seq(a, b) => a < b },
      s"not strictly ascending: $keys")
    val eleventh = Tables.supplier(spark, sf01).select("s_suppkey").collect()
      .map(_.getLong(0)).sorted.apply(10)
    assert(keys.head == eleventh)
  }

  test("w16_rolling_median pins nothing new when it runs again") {
    def drain(): Unit = SparkEntry.queries("w16_rolling_median")(spark, sf)
      .queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    drain()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    drain()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the second run pinned RDD(s) ${added.mkString(", ")}")
  }
}
