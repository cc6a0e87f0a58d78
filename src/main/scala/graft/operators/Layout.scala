package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: Z-order (Morton) clustering for
  * multi-dimensional data skipping.
  *
  * At 100 TB the scan is the dominant cost, and min/max stats (parquet
  * row groups, file footers) are the cheapest pruning lever. A single
  * sort key gives tight stats on ONE column and useless full-range
  * stats on every other; interleaving the bits of two (or more) keys
  * gives every file/row-group a bounded range on BOTH — a box
  * predicate then skips all but the touched tiles. Keys are min-max
  * scaled to a common bit width before interleaving (the same reason
  * production z-order implementations interleave range-partition ids,
  * not raw values: with unequal domains the wider key's high bits
  * dominate the curve and the narrow dimension never clusters). The
  * whole key is a pure codegen'd bitwise expression (no UDF, no custom
  * Expression), so it rides inside WholeStageCodegen.
  */
object Layout {

  private val Bits = 16
  private val Mask = (1L << Bits) - 1

  /** True integral division (SQL `div`, Catalyst IntegralDivide) over
    * DECIMAL operands: exact for the whole long range. A double-based
    * floor (`(a/b).cast("long")`, or reducing the numerator with pmod
    * first) goes off-by-one once the numerator passes 2^53 — a
    * property test over random trillion-scale ranges caught exactly
    * that — and key domains at warehouse scale (timestamps, 64-bit
    * surrogate ids) sit far beyond it.
    */
  private def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graftglue.Glue.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftglue.Glue.expression(a),
        org.apache.spark.sql.graftglue.Glue.expression(b)))

  /** Min-max scale a key into the [[Bits]]-bit domain: 0 at mn, Mask at
    * mx, floor-linear in between. Constant columns scale to 0. Two
    * exact paths: plain long arithmetic while (mx−mn)·Mask fits int64
    * (every realistic key domain), DECIMAL(38,0) beyond — both through
    * true integral division, so the result is floor-exact everywhere.
    */
  def scaleKey(c: Column, mn: Column, mx: Column): Column = {
    val cl = c.cast("long"); val ml = mn.cast("long"); val xl = mx.cast("long")
    // The span itself is computed in DECIMAL: a full-domain key range
    // (mx-mn spanning more than Long.MaxValue) would overflow a long
    // subtraction — ANSI mode dies, non-ANSI silently picks the wrong
    // branch. Long arithmetic appears only inside the fast branch,
    // where the guard proves it cannot overflow.
    val dec = "decimal(38,0)"
    val rangeD = xl.cast(dec) - ml.cast(dec)
    when(xl > ml && rangeD <= lit(Long.MaxValue / Mask).cast(dec),
      idiv((cl - ml) * Mask, xl - ml))
      .when(xl > ml, idiv((cl.cast(dec) - ml.cast(dec)) * lit(Mask), rangeD))
      .otherwise(lit(0L))
  }

  /** Morton interleave of two pre-scaled [[Bits]]-bit keys: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. Each term masks
    * one source bit and shifts it into place — a branch-free fold of
    * AND/SHIFT/OR.
    */
  def zorderKey(a: Column, b: Column): Column = {
    val am = a.cast("long").bitwiseAND(lit(Mask))
    val bm = b.cast("long").bitwiseAND(lit(Mask))
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(am.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(bm.bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  /** Write `df` Z-order-clustered on (a, b): min-max scale both keys
    * (one tiny stats job — driver-side constants, like any optimizer
    * statistic), range-partition by the Morton key so each output file
    * owns a contiguous curve segment (= a bounded tile in (a, b)
    * space), sort within partitions, drop the helpers. `buckets`
    * bounds the file count; at cluster scale choose it so each file is
    * a few hundred MB.
    */
  def zorderWrite(df: DataFrame, a: String, b: String, buckets: Int,
      path: String): Unit = {
    val mm = df.agg(min(a).cast("long"), max(a).cast("long"),
      min(b).cast("long"), max(b).cast("long")).first()
    // Scaled keys become real projected columns BEFORE the interleave:
    // the 2·Bits fold terms then reference a cheap attribute instead of
    // re-embedding (and re-evaluating) the whole scaling arithmetic per
    // term.
    df.withColumn("_za", scaleKey(col(a), lit(mm.getLong(0)), lit(mm.getLong(1))))
      .withColumn("_zb", scaleKey(col(b), lit(mm.getLong(2)), lit(mm.getLong(3))))
      .withColumn("_zkey", zorderKey(col("_za"), col("_zb")))
      .repartitionByRange(buckets, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_za", "_zb", "_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** The scaled Morton key over lineitem's (partkey, suppkey) — the
    * two-dimensional clustering key a part+supplier workload would lay
    * the fact table out on. The min/max scaling constants come from one
    * global aggregate (a broadcast scalar, never a per-row subquery);
    * oracle-checked bit-for-bit including the scaling arithmetic.
    */
  private def zorder(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val mm = li.agg(min("l_partkey").as("pmn"), max("l_partkey").as("pmx"),
      min("l_suppkey").as("smn"), max("l_suppkey").as("smx"))
    // No spreadScan (r16, measured): parallelizing the Morton interleave
    // read 1.09/1.11s vs 1.07 baseline — the interleave is cheap enough
    // per row that the added exchange only breaks even against the
    // 1-task stage (whose output the range sort must shuffle anyway).
    li.crossJoin(broadcast(mm))
      .select(col("l_orderkey"), col("l_linenumber"),
        scaleKey(col("l_partkey"), col("pmn"), col("pmx")).as("sa"),
        scaleKey(col("l_suppkey"), col("smn"), col("smx")).as("sb"))
      .select(col("l_orderkey"), col("l_linenumber"),
        zorderKey(col("sa"), col("sb")).as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber")
  }

  // ------------------------------------------- bucketed co-location

  private[graft] val Buckets = 16

  // One bucketed-layout build per (context, dir): a production
  // warehouse keeps its fact tables bucketed on their join keys
  // permanently — the first query pays the layout write (the same
  // residency contract as the dedup signature pins and the trained ANN
  // indexes), later queries read co-located buckets with no exchange.
  // Table names carry a dir hash so scale factors never collide; the
  // external catalog is shared across cloned sessions, so one build
  // serves every consumer in the context.
  private val bucketedTables = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String), (String, String)]

  private def bucketTables(s: SparkSession, d: String): (String, String) = {
    ContextCaches.evictOnStop(s.sparkContext, "bucketed-tables")(() =>
      bucketedTables.filterInPlace { case ((c, _), _) =>
        c ne s.sparkContext })
    bucketedTables.getOrElseUpdate((s.sparkContext, d), {
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val liT = s"graft_bkt_lineitem_$tag"
      val ordT = s"graft_bkt_orders_$tag"
      // The in-memory catalog dies with the context but the managed
      // warehouse directory doesn't: a fresh JVM sees tableExists =
      // false while CTAS refuses the leftover location. Clear the
      // orphaned directory before re-creating (a REGISTERED table is
      // reused without touching disk).
      // Resolve the would-be managed location the way the catalog does
      // (hadoop Path composition, not hand-built URI parsing: a
      // warehouse dir with spaces or unencoded chars throws in
      // java.net.URI, and the delete is through the table's OWN
      // FileSystem so an object-store scheme is honored rather than
      // silently missed). Defensive: a failure here leaves the CTAS to
      // surface the real error.
      def clearOrphan(t: String): Unit =
        try {
          val wh = new org.apache.hadoop.fs.Path(new java.net.URI(
            s.catalog.getDatabase(s.catalog.currentDatabase).locationUri))
          val loc = new org.apache.hadoop.fs.Path(wh, t)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(loc)) fs.delete(loc, true)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[layout] clearOrphan($t) skipped: $e")
        }
      // Pre-repartition on the SAME murmur3 hash bucketBy uses, so each
      // write task holds exactly one bucket → one file per bucket (the
      // layout that also lets sorted-bucket reads skip their sort).
      if (!s.catalog.tableExists(liT)) {
        clearOrphan(liT)
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
          .repartition(Buckets, col("l_orderkey"))
          .write.bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(liT)
      }
      if (!s.catalog.tableExists(ordT)) {
        clearOrphan(ordT)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(Buckets, col("o_orderkey"))
          .write.bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ordT)
      }
      (liT, ordT)
    })
  }

  /** Bucket-co-located fact⋈fact join (K3/§2 layout family): lineitem
    * and orders are written `bucketBy(16, orderkey)` + sorted, and the
    * revenue-by-priority join then runs with ZERO exchange on either
    * join side — the bucketed scans already satisfy the join's
    * distribution requirement, so the only shuffle in the plan is the
    * final tiny per-priority aggregate. At 100 TB this is the
    * difference between shuffling the two largest tables in the
    * warehouse on every query and shuffling them once at layout time.
    * The `merge` hint pins the sort-merge strategy the layout exists
    * for (at bench scale the orders side would otherwise broadcast —
    * the right plan for a SMALL side, but fact⋈fact is the case this
    * demonstrates; both are fact-scale in production). Plan shape is
    * spec-asserted (one hash exchange total); values are
    * oracle-checked.
    */
  private def bucketJoin(s: SparkSession, d: String): DataFrame = {
    val (liT, ordT) = bucketTables(s, d)
    s.table(liT).hint("merge")
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("o6_bucket_join", bucketJoin _, Oracle(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    QuerySpec("o5_zorder", zorder _, Oracle {
      val terms =
        (0 until Bits).map(i =>
          s"((sa & ${1L << i}) << $i)") ++
        (0 until Bits).map(i =>
          s"((sb & ${1L << i}) << ${i + 1})")
      s"""WITH mm AS (SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
         |  min(l_suppkey) AS smn, max(l_suppkey) AS smx FROM lineitem),
         |sc AS (SELECT l_orderkey, l_linenumber,
         |  CASE WHEN pmx > pmn
         |    THEN ((l_partkey - pmn) * $Mask) // (pmx - pmn) ELSE 0 END AS sa,
         |  CASE WHEN smx > smn
         |    THEN ((l_suppkey - smn) * $Mask) // (smx - smn) ELSE 0 END AS sb
         |  FROM lineitem, mm)
         |SELECT l_orderkey, l_linenumber,
         |  ${terms.mkString(" | ")} AS zkey
         |FROM sc
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
    }))
}
