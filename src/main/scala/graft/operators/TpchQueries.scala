package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The complete TPC-H query suite (all 22), adapted to the testdata
  * schema (which lacks partsupp and the shipmode/commit/receipt date
  * columns — the partsupp-dependent queries derive the part↔supplier
  * catalog from lineitem, and the late-delivery predicates use
  * l_returnflag='R'; every adaptation is documented per-query and in
  * SURVEY §14). Shapes are
  * the classic warehouse patterns: star joins with bounded dimensions
  * broadcast, facts shuffled once on their join keys, aggregates with
  * map-side partials, and DECIMAL-exact sums so the oracle comparison
  * is bit-stable. Split out of Extended.scala for maintainability —
  * registry semantics unchanged.
  */
object TpchQueries {

  /** TPC-H Q1 (pricing summary): the canonical scan→partial-agg→final-agg
    * benchmark shape. Product terms are computed per-row in double
    * (bit-identical across engines) and summed in DECIMAL
    * (order-independent), so the result is exact at any parallelism.
    */
  private def tpchQ1(s: SparkSession, d: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = disc * (lit(1.0) + col("l_tax"))
    // SPLIT-BRANCH aggregation (r15): the four DECIMAL sums + count are
    // order-INSENSITIVE (exact arithmetic), so they run on a spreadScan
    // branch at full parallelism — the measured −48% win — while the
    // three r6(avg(double)) columns stay on the unspread single-split
    // scan: they are only bit-stable at the sequential aggregation
    // order the oracle's DuckDB avg shares (dq_profile's identical
    // shape hit the 0.0499185 round boundary under a whole-aggregate
    // spread and hash-diverged at sf0.01). Both group frames are
    // 4 rows; the avg side broadcast-joins back.
    val filtered = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = spreadScan(filtered, col("l_orderkey"))
      .groupBy(keys.map(col): _*)
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(disc).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        count(lit(1)).as("count_order"))
    val avgs = filtered
      .groupBy(keys.map(col): _*)
      .agg(
        r6(avg(col("l_quantity"))).as("avg_qty"),
        r6(avg(col("l_extendedprice"))).as("avg_price"),
        r6(avg(col("l_discount"))).as("avg_disc"))
    sums.join(broadcast(avgs), keys)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_price"), col("sum_disc_price"),
        col("sum_charge"), col("avg_qty"), col("avg_price"),
        col("avg_disc"), col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3 (shipping priority): selective dimension filter → joined
    * fact scan → grouped revenue → top-10. No explicit broadcast hints:
    * customer and orders SCALE with the data (hinting them broadcast
    * would lie at 100 TB) — Catalyst/AQE auto-broadcasts them below the
    * threshold (which it does at bench scale, spec-asserted) and falls
    * back to shuffle joins beyond it.
    */
  private def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit("1998-03-15"))
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o.join(c, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q6 (forecasting revenue change): pure filter+agg — the
    * predicate-pushdown showcase (all four filters reach the parquet
    * row-group stats).
    */
  private def tpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q5 (local supplier volume): the 6-table join. Only the
    * FIXED-cardinality dimensions (nation, region) carry explicit
    * broadcast hints — customer/orders/supplier scale with the data, so
    * their join strategy is left to Catalyst/AQE (auto-broadcast below
    * the threshold, shuffle join at 100 TB).
    */
  private def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val c = Tables.customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 (returned-item revenue): customers who returned items in
    * a quarter, ranked by lost revenue. Fact-side filters (returnflag,
    * order-date window) push to the scans; nation is broadcast (25 rows
    * at any scale); customer/orders join is left to AQE — the same
    * scale-honest hint policy as q5/q18.
    */
  private def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        r6(col("c_acctbal")).as("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 (promotion effect): promo revenue share over one month —
    * a broadcast part join + single conditional-aggregate pass (no
    * shuffle of lineitem beyond the final one-row agg).
    */
  private def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-02-01")))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(r6(lit(100.0) *
        sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))
          .cast("decimal(38,6)")).cast("double") /
        dsum(rev)).as("promo_revenue_pct"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q7 (volume shipping): bilateral trade between two nations by
    * year. Both nation filters are broadcast; the supplier/customer
    * sides reduce lineitem/orders before the fact join, and the yearly
    * rollup is one grouped aggregate.
    */
  private def tpchQ7(s: SparkSession, d: String): DataFrame = {
    val n1 = "NATION_1"
    val n2 = "NATION_2"
    val nat = Tables.nation(s, d)
      .filter(col("n_name").isin(n1, n2)).select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === n1 && col("cust_nation") === n2) ||
        (col("supp_nation") === n2 && col("cust_nation") === n1))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 (national market share): the widest feasible join tree on
    * this schema — lineitem × part × supplier × orders × customer ×
    * nation² × region — with the share computed as a conditional-sum
    * ratio per year. Bounded dims (region, nation) broadcast; the fact
    * chain is left to AQE.
    */
  private def tpchQ8(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
    val n1 = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cnk"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val c = Tables.customer(s, d)
      .join(broadcast(n1), col("c_nationkey") === col("cnk"))
      .select("c_custkey")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val p = Tables.part(s, d).filter(col("p_type") === "STANDARD")
      .select("p_partkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("snk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(r6(
        sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))
          .cast("decimal(38,6)")).cast("double") /
        sum(vol.cast("decimal(38,6)")).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q15 (top supplier): revenue per supplier over a quarter, then
    * the supplier(s) achieving the scalar max — the HAVING-equals-
    * subquery shape; the per-supplier revenue aggregate is computed once
    * and self-joined against its own max (broadcast one-row).
    */
  private def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(Tables.supplier(s, d),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        r6(col("total_revenue")).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 (global sales opportunity), adapted: country code comes
    * from c_nationkey (the schema has no phone column). Customers with
    * above-average positive balance and NO orders — a broadcast scalar
    * subquery threshold plus a left-anti join against recent orders
    * (the full order history covers nearly every customer at any SF, so
    * the classic formulation is vacuous here), grouped per country.
    */
  private def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_nationkey") < 10)
      .select(col("c_custkey"), col("c_nationkey").as("cntrycode"),
        col("c_acctbal"))
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("ab"))
    c.join(broadcast(avgBal), col("c_acctbal") > col("ab"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** TPC-H Q18 (large-volume customers): a grouped HAVING filter feeding
    * a join back onto orders/customer. The qualifying key set is
    * genuinely small at ANY scale (HAVING > threshold keeps outliers), so
    * its broadcast hint is scale-honest; customer is left to AQE.
    */
  private def tpchQ18(s: SparkSession, d: String): DataFrame = {
    // spreadScan: the per-order decimal partial aggregate otherwise
    // runs inside the single-split scan on one core (r15 plan audit).
    val big = spreadScan(Tables.lineitem(s, d), col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 250)
    Tables.orders(s, d)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        r6(col("o_totalprice")).as("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q13 (customer distribution), adapted: the `o_comment NOT LIKE`
    * filter becomes `o_orderpriority <> '1-URGENT'` (testdata carries no
    * comment column — same adaptation standard as Q22's
    * c_phone→c_nationkey). The filter lives in the JOIN CONDITION, not a
    * WHERE: a customer whose every order is urgent must survive with
    * count 0 — the archetypal LEFT OUTER JOIN semantics (count(col)
    * skips the null-extended rows). Scale shape: orders shuffles on
    * o_custkey once; the count-distribution re-aggregate is over at most
    * |distinct counts| rows.
    */
  private def tpchQ13(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.customer(s, d)
      .select(col("c_custkey"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17 (small-quantity-order revenue), adapted: `p_container`
    * becomes `p_type` (testdata has brand+type). The correlated
    * avg-quantity subquery decorrelates to a grouped aggregate over the
    * SAME part-filtered lineitem slice (per-partkey avg is unchanged by
    * the semi-filtering join — every lineitem row of a qualifying part
    * survives it), joined back per partkey: one aggregate of a few rows
    * per qualifying part, broadcast back — not a re-scan per row. The
    * threshold is computed decimal-exact then rounded identically on
    * both engines so the `<` comparison can't flip on float noise.
    */
  private def tpchQ17(s: SparkSession, d: String): DataFrame = {
    val pf = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#13" && col("p_type") === "MEDIUM")
      .select(col("p_partkey"))
    // Persisted: both the threshold aggregate and the final join
    // consume the part-filtered slice — without this the dominant
    // lineitem scan runs twice.
    val cand = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(pf, col("l_partkey") === col("p_partkey"))
      .pinned()
    val thresh = cand.groupBy(col("l_partkey").as("t_partkey"))
      .agg(r6(lit(0.2) * (dsum(col("l_quantity")) / count(lit(1))))
        .as("qty_cut"))
    cand.join(thresh, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") < col("qty_cut"))
      .agg(r6(dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q2 (minimum-cost supplier), adapted: the schema has no
    * partsupp, so the part↔supplier catalog is DERIVED from lineitem —
    * supply cost is each supplier's best observed unit price
    * (min(extendedprice/quantity) per (supplier, part)). The classic
    * correlated MIN subquery decorrelates to: per-part minimum over the
    * region-restricted catalog, joined back on equality. Scale shape:
    * the catalog aggregate is map-side combinable on (suppkey, partkey);
    * the per-part min re-aggregate is over the already-collapsed
    * catalog (|parts|·|suppliers-per-part| rows, not lineitems); nation
    * and region broadcast at any scale, the supplier join is left to
    * AQE. Unit prices are rounded to 6 decimals BEFORE the min on both
    * engines so the equality join can't flip on float noise.
    */
  private def tpchQ2(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val eu = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val pf = Tables.part(s, d)
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
      .select("p_partkey")
    // The derived catalog, already restricted to qualifying parts and
    // European suppliers — BOTH restrictions land before the aggregate,
    // so the min is computed over exactly the correlated subquery's
    // domain (the classic Q2 pitfall is min-ing over all suppliers).
    val cat = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"),
        round(col("l_extendedprice") / col("l_quantity"), 6).as("unit"))
      .join(pf, col("l_partkey") === col("p_partkey"))
      .join(eu, col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
      .agg(min(col("unit")).as("cost"))
      .pinned()
    val minCost = cat.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    cat.join(minCost, col("l_partkey") === col("m_partkey") &&
        col("cost") === col("min_cost"))
      .select(r6(col("s_acctbal")).as("s_acctbal"), col("s_name"),
        col("n_name"), col("l_partkey").as("p_partkey"), col("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q4 (order-priority checking), adapted: the lineitem "problem"
    * predicate `l_commitdate < l_receiptdate` becomes `l_returnflag =
    * 'R'` (the schema carries no commit/receipt dates; a returned item
    * is the analogous fulfilment failure). The EXISTS keeps its
    * canonical physical shape: a LEFT SEMI join — each order counts at
    * most once no matter how many problem lineitems it has. Both scans
    * carry pushed filters; the semi join shuffles on orderkey once.
    */
  private def tpchQ4(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-07-01")) &&
        col("o_orderdate") < to_timestamp(lit("1996-10-01")))
      .select("o_orderkey", "o_orderpriority")
      .join(Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q9 (product-type profit), adapted: with no partsupp,
    * supply cost is proxied as 60% of the part's retail price (a
    * deterministic column function — the join tree and the profit
    * arithmetic, which are what Q9 exercises, are unchanged). Five-way
    * join: lineitem shuffles once on partkey then orderkey/suppkey;
    * nation broadcasts; part and supplier are left to AQE. Profit sums
    * in DECIMAL per (nation, year).
    */
  private def tpchQ9(s: SparkSession, d: String): DataFrame = {
    val pf = Tables.part(s, d)
      .filter(col("p_name").like("%bolt"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.6) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
      .join(pf, col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(dsum(amount).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important stock), adapted: part "value" held by one
    * nation's suppliers is derived from lineitem (sum of extended price
    * shipped by NATION_3 suppliers per part; the schema has no
    * partsupp availability). The signature shape survives intact: a
    * grouped aggregate filtered by a GLOBAL scalar aggregate over the
    * same slice — the scalar (one row) broadcasts into the HAVING
    * comparison, never materializing a cross product. The classic
    * query's fixed fraction (0.0001/SF) is hand-scaled per benchmark
    * scale factor; here the threshold is self-scaling instead — 2× the
    * MEAN per-part value over the slice — so the query is non-vacuous
    * at every SF without a per-SF constant. Both sums accumulate in
    * DECIMAL so the threshold comparison is bit-stable across engines.
    */
  private def tpchQ11(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val slice = Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .pinned()
    val perPart = slice.groupBy("l_partkey")
      .agg(dsum(col("l_extendedprice")).as("part_value"))
    val total = slice.agg(
      (dsum(col("l_extendedprice")) / countDistinct(col("l_partkey")) *
        2.0).as("threshold"))
    perPart.join(broadcast(total), col("part_value") > col("threshold"))
      .select(col("l_partkey").as("p_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** TPC-H Q12 (shipping-mode priority split), adapted: the schema has
    * no l_shipmode, so lines group by l_linestatus, and the "late
    * delivery" predicate (commit < receipt) becomes a returned item in
    * a 1996 ship window. The essential shape is untouched: an
    * orders↔lineitem join feeding CONDITIONAL aggregation — urgent
    * orders counted into one column, the rest into another, in a single
    * pass (no second scan, no self-join).
    */
  private def tpchQ12(s: SparkSession, d: String): DataFrame = {
    val urgent = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R" &&
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .select("l_orderkey", "l_linestatus")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q16 (parts/supplier relationship), adapted: the
    * part↔supplier relation is the DISTINCT (partkey, suppkey) pairs
    * observed in lineitem (no partsupp), and the "customer complaints"
    * NOT IN subquery becomes suppliers with negative account balance.
    * Shape preserved exactly: an anti-join excluding the subquery's
    * suppliers (NULL-safe by construction — suppkeys are non-null),
    * then COUNT(DISTINCT suppkey) per part attribute group. The
    * distinct pair collapse happens BEFORE the part join: lineitem's
    * many rows per pair collapse map-side, so the join input is
    * |catalog| not |lineitem|.
    */
  private def tpchQ16(s: SparkSession, d: String): DataFrame = {
    val excluded = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    // Spread keyed on BOTH distinct columns (r16): the r15 attempt keyed
    // on a different column, so the distinct still needed its own
    // exchange on top of the spread's (1.48 → 1.66s, reverted). Keyed on
    // exactly (l_partkey, l_suppkey) the distinct's clustering is
    // satisfied by the spread (guide §2.4) — exchange count unchanged —
    // and the 600k-key hash build moves off the single-split scan task
    // onto 32: the 1-task stage shrinks to scan + shuffle write.
    val pairs = spreadScan(
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey"),
        col("l_partkey"), col("l_suppkey"))
      .distinct()
      .join(broadcast(excluded),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
    val pf = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size") <= 25)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    pairs.join(pf, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q19 (discounted revenue): the disjunctive-predicate
    * showcase, expressible verbatim minus the shipmode/shipinstruct
    * conjuncts the schema lacks. Three brand/size/quantity branches
    * OR-ed in the JOIN condition; Catalyst extracts the common
    * per-side implications (p_size ≤ 15, l_quantity ≤ 30 bounds and
    * the brand IN-set) and pushes them to the scans, so the join input
    * is pre-pruned even though the full predicate is disjunctive.
    */
  private def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    val branch1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#4" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
    l.join(p, col("l_partkey") === col("p_partkey") &&
        (branch1 || branch2 || branch3))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n"))
  }

  /** TPC-H Q20 (potential part promotion), adapted: "availability
    * exceeds half the shipped quantity" becomes "this supplier shipped
    * more than 1.5× the average per-supplier quantity of that part" —
    * the schema has no availqty, but the NESTED correlated-IN shape is
    * what Q20 exercises and it survives intact: an inner aggregate per
    * (supplier, part), a correlated per-part threshold aggregate
    * derived from the same slice, a semi-join into suppliers. The
    * threshold re-aggregate runs over the collapsed per-pair frame
    * (never re-scans lineitem), and the final IN is a LEFT SEMI join on
    * the distinct qualifying suppkeys.
    */
  private def tpchQ20(s: SparkSession, d: String): DataFrame = {
    val pf = Tables.part(s, d)
      .filter(col("p_name").like("small%")).select("p_partkey")
    val perPair = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .select("l_partkey", "l_suppkey", "l_quantity")
      .join(pf, col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(dsum(col("l_quantity")).as("qty"))
      .pinned()
    val perPart = perPair.groupBy(col("l_partkey").as("t_partkey"))
      .agg(r6(lit(1.5) * (dsum(col("qty")) / count(lit(1))))
        .as("qty_cut"))
    val qualifying = perPair
      .join(perPart, col("l_partkey") === col("t_partkey") &&
        col("qty") > col("qty_cut"))
      .select("l_suppkey").distinct()
    Tables.supplier(s, d)
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), r6(col("s_acctbal")).as("s_acctbal"))
      .orderBy("s_name")
  }

  /** TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    * late-delivery marker `l_receiptdate > l_commitdate` becomes
    * `l_returnflag = 'R'`. The double correlation is preserved in its
    * canonical physical form: suppliers with a RETURNED lineitem in a
    * finished multi-supplier order (EXISTS → left SEMI join on
    * orderkey with a suppkey-inequality residual) where NO OTHER
    * supplier had a returned item in that order (NOT EXISTS → left ANTI
    * join, same condition plus the flag). Both correlated probes shuffle
    * on orderkey — the equi half of the compound condition — with the
    * inequality evaluated as a join residual, so there is no
    * quadratic pair blow-up beyond each order's own lineitems.
    */
  private def tpchQ21(s: SparkSession, d: String): DataFrame = {
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val l1 = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey")
    val others = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("l2_orderkey"),
        col("l_suppkey").as("l2_suppkey"))
    val othersReturned = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("l3_orderkey"),
        col("l_suppkey").as("l3_suppkey"))
    l1.join(others, col("l_orderkey") === col("l2_orderkey") &&
        col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(othersReturned, col("l_orderkey") === col("l3_orderkey") &&
        col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("tpch_q1", tpchQ1 _, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_extendedprice), 6) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("tpch_q3", tpchQ3 _, Oracle(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, od
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("tpch_q5", tpchQ5 _, Oracle(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),
    QuerySpec("tpch_q6", tpchQ6 _, Oracle(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    QuerySpec("tpch_q7", tpchQ7 _, Oracle(
      """WITH nat AS (SELECT n_nationkey, n_name FROM nation
        |             WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT s.n_name AS supp_nation, c.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nat s ON s_nationkey = s.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nat c ON c_nationkey = c.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND ((s.n_name = 'NATION_1' AND c.n_name = 'NATION_2') OR
        |       (s.n_name = 'NATION_2' AND c.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    QuerySpec("tpch_q8", tpchQ8 _, Oracle(
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(
        |    CAST(sum(CAST(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |      AS DECIMAL(38,6))) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(38,6))) AS DOUBLE), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_year ORDER BY o_year""".stripMargin)),
    QuerySpec("tpch_q10", tpchQ10 _, Oracle(
      """SELECT c_custkey, c_name, round(c_acctbal, 6) AS c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, round(c_acctbal, 6), n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    QuerySpec("tpch_q13", tpchQ13 _, Oracle(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |        AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QuerySpec("tpch_q14", tpchQ14 _, Oracle(
      """SELECT round(100.0 *
        |  CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(38,6))) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS promo_revenue_pct,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin)),
    QuerySpec("tpch_q15", tpchQ15 _, Oracle(
      """WITH rev AS (SELECT l_suppkey AS supplier_no,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, round(total_revenue, 6) AS total_revenue
        |FROM rev JOIN supplier ON supplier_no = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    QuerySpec("tpch_q17", tpchQ17 _, Oracle(
      """WITH pf AS (SELECT p_partkey FROM part
        |    WHERE p_brand = 'Brand#13' AND p_type = 'MEDIUM'),
        |  cand AS (SELECT l_partkey, l_quantity, l_extendedprice
        |    FROM lineitem JOIN pf ON l_partkey = p_partkey),
        |  th AS (SELECT l_partkey AS t_partkey,
        |      round(0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(38,6)))
        |        AS DOUBLE) / count(*)), 6) AS qty_cut
        |    FROM cand GROUP BY l_partkey)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE) / 7.0, 6) AS avg_yearly,
        |  count(*) AS n
        |FROM cand JOIN th ON l_partkey = t_partkey
        |WHERE l_quantity < qty_cut""".stripMargin)),
    QuerySpec("tpch_q18", tpchQ18 _, Oracle(
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
        |      AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250)
        |SELECT c_custkey, c_name, o_orderkey,
        |  round(o_totalprice, 6) AS o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    QuerySpec("tpch_q22", tpchQ22 _, Oracle(
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer
        |WHERE c_nationkey < 10
        |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0 AND c_nationkey < 10)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                   WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin)),
    QuerySpec("tpch_q2", tpchQ2 _, Oracle(
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cat AS (
        |  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
        |    min(round(l_extendedprice / l_quantity, 6)) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN eu ON l_suppkey = s_suppkey
        |  WHERE p_size <= 10 AND p_type = 'LARGE'
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT round(s_acctbal, 6) AS s_acctbal, s_name, n_name,
        |  l_partkey AS p_partkey, cost
        |FROM cat
        |WHERE cost = (SELECT min(cost) FROM cat c2
        |              WHERE c2.l_partkey = cat.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)),
    QuerySpec("tpch_q4", tpchQ4 _, Oracle(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("tpch_q9", tpchQ9 _, Oracle(
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(38,6)))
        |    AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%bolt'
        |GROUP BY n_name, CAST(year(o_orderdate) AS INT)
        |ORDER BY nation, o_year DESC""".stripMargin)),
    QuerySpec("tpch_q11", tpchQ11 _, Oracle(
      """WITH slice AS (
        |  SELECT l_partkey, l_extendedprice
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'),
        |per_part AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |      AS part_value
        |  FROM slice GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DOUBLE) / count(DISTINCT l_partkey) * 2.0 AS threshold
        |  FROM slice)
        |SELECT p_partkey, part_value FROM per_part, tot
        |WHERE part_value > threshold
        |ORDER BY part_value DESC, p_partkey""".stripMargin)),
    QuerySpec("tpch_q12", tpchQ12 _, Oracle(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),
    QuerySpec("tpch_q16", tpchQ16 _, Oracle(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    QuerySpec("tpch_q19", tpchQ19 _, Oracle(
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    QuerySpec("tpch_q20", tpchQ20 _, Oracle(
      """WITH per_pair AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |cut AS (
        |  SELECT l_partkey AS t_partkey,
        |    round(1.5 * (CAST(sum(CAST(qty AS DECIMAL(38,6))) AS DOUBLE)
        |      / count(*)), 6) AS qty_cut
        |  FROM per_pair GROUP BY 1)
        |SELECT s_name, round(s_acctbal, 6) AS s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM per_pair JOIN cut
        |      ON l_partkey = t_partkey AND qty > qty_cut)
        |ORDER BY s_name""".stripMargin)),
    QuerySpec("tpch_q21", tpchQ21 _, Oracle(
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)))
}
