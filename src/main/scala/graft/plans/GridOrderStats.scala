package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, AttributeSet, Cast, CreateArray, EqualNullSafe,
  Expression, If, IsNull, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Complete, Percentile}
import org.apache.spark.sql.catalyst.plans.{Cross, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.{ArrayType, DoubleType, NumericType}

/** Optimizer rule: rewrites buffering order-statistic aggregates —
  * `median(v)`, `percentile(v, p)` (and `percentile_cont`, which the
  * analyzer lowers to `Percentile`) — into the distributed value-grid
  * plan, so the SQL everyone writes gets the plan that survives 100 TB.
  *
  * Spark's exact `Percentile` buffers EVERY input value of a group in
  * one reducer (an `OpenHashMap[value, count]` per group that is
  * unspillable within a group): a global median over a large table is a
  * single-task OOM by construction — `MemSmoke` demonstrates it dying
  * at 30M distinct doubles under a 2g heap while the grid form
  * survives. The rewrite calls the same kernel the library's own
  * a13/w8/es_rfm queries use, [[ValueGrid.percentiles]]: collapse to
  * the distinct value grid with a map-side-combinable count, a
  * range-partitioned prefix sum ([[ValueGrid.rangeCumsum]]), then each
  * percentile reads its two bracketing order statistics out of the
  * cumulative counts.
  *
  * Numerics are BIT-COMPATIBLE with the builtin (the kernel mirrors
  * `PercentileBase.getPercentile`), verified per-bit against the
  * builtin in `GridRewriteSpec`.
  *
  * Scope (conservative by design — anything else keeps the builtin):
  *  - every `Percentile` in the `Aggregate` has a foldable scalar or
  *    array percentage, unit frequency, `reverse = false`, no DISTINCT
  *    and no FILTER, and is in `Complete` mode (the array form returns
  *    the builtin's `ArrayType(double, containsNull=false)`, NULL for
  *    empty groups);
  *  - percentile children may be DIFFERENT expressions (numeric each):
  *    the rewrite runs one grid per distinct value expression —
  *    `median(a), median(b), percentile(b, .9)` compiles grid(a) and
  *    grid(b), all fed from one pinned narrow projection of the child
  *    (one fact scan) and joined back on the grouping keys;
  *  - an output column may wrap its percentiles in scalar arithmetic
  *    (`round(median(x), 6)`, `p75 − p25`), and other output columns
  *    may carry ordinary non-Percentile aggregates (sum/count/avg…) —
  *    those run as a residual Aggregate over the same pinned child and
  *    join back on the grouping keys; mixing a Percentile and another
  *    aggregate inside ONE output expression bails;
  *  - grouping expressions are plain attributes (also allowed aliased
  *    in the output list);
  *  - the child is a batch (non-streaming) plan.
  *
  * The rewritten plan preserves the original output attribute ids, so
  * parent operators are untouched. Install via [[GraftExtensions]]
  * (`injectOptimizerRule`) or [[GridOrderStatsRule.install]] on a live
  * session (`experimental.extraOptimizations`, the same seam
  * [[AsOf.lastMatch]] uses for its strategy).
  */
object GridOrderStatsRule extends Rule[LogicalPlan] {

  /** Append to a live session's optimizer (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(this))
      spark.experimental.extraOptimizations = cur :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if eligible(agg) => rewrite(agg)
  }

  /** A rewritable Percentile call: the aggregate, its percentage list,
    * and whether it is the array form (`percentile(v, array(...))`).
    */
  private case class PHit(pc: Percentile, ps: Seq[Double],
    isArray: Boolean)

  private def pHitOf(ae: AggregateExpression): Option[PHit] = ae match {
    case AggregateExpression(pc: Percentile, Complete, false, None, _)
      if pc.frequencyExpression == Literal(1L) && !pc.reverse &&
        pc.percentageExpression.foldable &&
        pc.child.dataType.isInstanceOf[NumericType] &&
        pc.child.deterministic =>
      (pc.percentageExpression.dataType, pc.percentageExpression.eval()) match {
        case (DoubleType, p: java.lang.Double) =>
          Some(PHit(pc, Seq(p), isArray = false))
        case (ArrayType(DoubleType, _), arr: ArrayData)
          if arr.numElements() > 0 &&
            (0 until arr.numElements()).forall(!arr.isNullAt(_)) =>
          Some(PHit(pc, arr.toDoubleArray().toSeq, isArray = true))
        case _ => None
      }
    case _ => None
  }

  /** Classify one aliased output column.
    *  - Some(true): HIT leg — every AggregateExpression in the tree is
    *    a rewritable Percentile. Scalar arithmetic around or between
    *    them (`round(median(x), 6)`, `median(x) + 1`,
    *    `percentile(x,.75) − percentile(x,.25)`) is reconstructed over
    *    the grid columns in the final projection — v1 rewrote only
    *    direct aliases and sent exactly the SQL everyone writes
    *    (rounded medians) back to the buffering builtin.
    *  - Some(false): RESIDUAL leg — no Percentile anywhere in the tree
    *    (plain aggregates, incl. arithmetic like sum(x)/count(*)); it
    *    re-runs as an ordinary Aggregate and joins back on the keys.
    *  - None: bail — a non-rewritable Percentile, or a Percentile mixed
    *    with another aggregate in the SAME alias (the grid column and
    *    the residual column live on opposite sides of the join-back, so
    *    one scalar tree cannot reference both).
    */
  private def legOf(al: Alias): Option[Boolean] = {
    val aes = al.child.collect { case ae: AggregateExpression => ae }
    if (aes.isEmpty)
      if (al.child.exists(_.isInstanceOf[Percentile])) None else Some(false)
    else if (aes.forall(pHitOf(_).isDefined)) Some(true)
    else if (!al.child.exists(_.isInstanceOf[Percentile])) Some(false)
    else None
  }

  /** Every distinct rewritable Percentile call in output order (by
    * canonicalized form — `median(v)` written twice is one grid block).
    */
  private def distinctPHits(agg: Aggregate): Seq[(Expression, PHit)] =
    agg.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
      .flatMap(ae => pHitOf(ae).map(ae.canonicalized -> _))
      .foldLeft(Vector.empty[(Expression, PHit)]) { case (acc, (c, h)) =>
        if (acc.exists(_._1 == c)) acc else acc :+ (c -> h)
      }

  private def eligible(agg: Aggregate): Boolean = {
    if (agg.child.isStreaming) return false
    if (!agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]))
      return false
    val keyIds = agg.groupingExpressions
      .map(_.asInstanceOf[AttributeReference].exprId).toSet
    if (distinctPHits(agg).isEmpty) return false
    // Every output column is a grouping attribute (possibly
    // re-aliased), a HIT leg, or a RESIDUAL leg — see [[legOf]].
    agg.aggregateExpressions.forall {
      case ar: AttributeReference => keyIds.contains(ar.exprId)
      case al: Alias => al.child match {
        case ar: AttributeReference => keyIds.contains(ar.exprId)
        case _ => legOf(al).isDefined
      }
      case _ => false
    }
  }

  private def rewrite(agg: Aggregate): LogicalPlan = {
    val spark = SparkSession.active
    val keys = agg.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    val keyIds = keys.map(_.exprId).toSet
    val keyNames = keys.indices.map(i => s"__gk$i")
    val hitList = distinctPHits(agg)
    // Residual legs: aliased aggregate expressions with no Percentile.
    // They re-run as an ordinary Aggregate over the same (pinned,
    // below) child and join back on the grouping keys; the residual
    // pass itself stays map-side-combinable.
    val residual = agg.aggregateExpressions.collect {
      case al: Alias if (al.child match {
        case _: AttributeReference => false // key re-alias
        case _ => legOf(al).contains(false)
      }) => al
    }
    // One grid per DISTINCT value expression (grouped by canonical
    // form): `median(a), median(b), percentile(b, .9)` runs grid(a)
    // and grid(b) — the plain-SQL form of exactMedians' multi-column
    // pass. v1 required every percentile to share one value column and
    // silently kept the buffering builtin for exactly the BI query
    // this exists for (several columns' medians in one GROUP BY).
    val groups: Seq[Seq[(Expression, PHit)]] =
      hitList.map(_._2.pc.child.canonicalized).distinct.map(ck =>
        hitList.filter(_._2.pc.child.canonicalized == ck))
    // ONE fact-table scan for the whole rewrite however many legs the
    // query carries: the child is projected to exactly the attributes
    // consumed (grouping keys, every percentile input, residual-leg
    // inputs) and, when more than one consumer exists (several grids
    // and/or a residual Aggregate — different partial aggregations no
    // exchange reuse can merge), that NARROW projection is pinned so
    // every consumer reads one cache entry. At 100× a second fact scan
    // is the difference between one pass and two. Entry lifetime is
    // bounded: the pin registry keys on the canonicalized plan
    // (re-compiling the same query replaces, never appends) and evicts
    // on context stop; the cached rows are the narrow projection,
    // spilling to disk past memory, which still beats a re-scan.
    val needed = AttributeSet(keys.toSeq) ++
      AttributeSet(hitList.flatMap(_._2.pc.child.references)) ++
      AttributeSet(residual.flatMap(_.references))
    val consumers = groups.size + (if (residual.isEmpty) 0 else 1)
    val sharedDf = Glue.ofRows(spark,
      Project(agg.child.output.filter(needed.contains), agg.child))
    val shared =
      (if (consumers > 1)
        graft.ContextCaches.pinBounded(sharedDf, "grid-rule-shared", 8)
      else sharedDf)
        .queryExecution.analyzed
    // Per-grid compile. Each grid subtree must be OPTIMIZED, not merely
    // analyzed: it contains Deduplicate/ResolvedHint nodes that only
    // early optimizer batches rewrite, and when this rule runs from a late batch
    // (experimental.extraOptimizations) those batches won't visit the
    // new subtree again — the planner then fails on the leftovers. It
    // must also pass through a FRESH QueryExecution for cache
    // substitution (withCachedData runs BEFORE optimization on the
    // outer query, so a subtree spliced in by this rule would never be
    // matched against the pin). Reentrancy-safe (this rule no-ops on
    // the subtree, which contains no Percentile); output attribute ids
    // survive optimization.
    //
    // `exprs` maps each rewritable AggregateExpression (canonicalized)
    // to its output expression: the scalar __q column, or the builtin's
    // array shape — NULL for an empty group (never an array OF nulls; a
    // non-empty group's quantiles are provably non-null, so the first
    // element's nullness IS group-emptiness), elements KnownNotNull so
    // the type matches ArrayType(double, containsNull = false).
    case class Grid(resolved: LogicalPlan,
      byName: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute],
      exprs: Map[Expression, Expression])
    def mkGrid(g: Seq[(Expression, PHit)], needAllKeys: Boolean): Grid = {
      val projList = keys.zip(keyNames).map { case (a, n) =>
        Alias(a, n)() } :+ Alias(Cast(g.head._2.pc.child, DoubleType), "v")()
      val base = Glue.ofRows(spark, Project(projList.toSeq, shared))
      val res = ValueGrid.percentiles(base, keyNames, col("v"),
        g.flatMap(_._2.ps), needAllKeys)
      val resolved = res.queryExecution.optimizedPlan
      val byName = resolved.output.map(a => a.name -> a).toMap
      def hitExpr(h: PHit, off: Int): Expression =
        if (!h.isArray) byName(s"__q$off")
        else {
          val elems = h.ps.indices.map(j =>
            KnownNotNull(byName(s"__q${off + j}")))
          If(IsNull(byName(s"__q$off")),
            Literal(null, ArrayType(DoubleType, containsNull = false)),
            CreateArray(elems))
        }
      val offs = g.map(_._2.ps.length).scanLeft(0)(_ + _)
      Grid(resolved, byName,
        g.zip(offs).map { case ((c, h), o) => c -> hitExpr(h, o) }.toMap)
    }
    // With residual legs the residual Aggregate is the row-set spine
    // (one row per group, incl. all-NULL-value and NULL-keyed groups);
    // without them grid 0 carries the all-keys frame and later grids
    // left-join onto it (their row sets are subsets: a group missing
    // from grid i has an all-NULL value column there — exactly the
    // NULL quantiles the left join produces).
    val grids = groups.zipWithIndex.map { case (g, gi) =>
      mkGrid(g, needAllKeys = residual.isEmpty && gi == 0) }
    val hitExprOf: Map[Expression, Expression] =
      grids.flatMap(_.exprs).toMap
    // Rebuild a HIT leg's scalar tree over the grid columns: every
    // rewritable Percentile call becomes its grid expression (looked up
    // by canonicalized form, so repeated identical calls share one
    // block) and grouping-attribute references remap through `keyRef`.
    // transformDown: the replacement is emitted whole, so attributes
    // INSIDE a percentile's value expression are never touched.
    def rewriteHitTree(e: Expression, keyRef: Int => Expression): Expression =
      e.transformDown {
        case ae: AggregateExpression if hitExprOf.contains(ae.canonicalized) =>
          hitExprOf(ae.canonicalized)
        case ar: AttributeReference if keyIds.contains(ar.exprId) =>
          keyRef(keys.indexWhere(_.exprId == ar.exprId))
      }
    def keyOf(g: Grid, i: Int) = g.byName(keyNames(i))
    // Join-back shape: every non-spine frame has ONE ROW PER GROUP, so
    // at scale these are group-cardinality joins (AQE broadcasts small
    // sides at runtime; no compile-time hint — arbitrary user SQL may
    // group by a high-cardinality key, where a forced broadcast would
    // collect every group to the driver). Global form: all sides are
    // single-row frames, a 1×1 nested-loop join.
    def joinBack(spine: LogicalPlan, g: Grid, spineKey: Int => Expression,
        gridKey: Int => Expression): LogicalPlan =
      if (keys.isEmpty) Join(spine, g.resolved, Cross, None, JoinHint.NONE)
      else {
        val cond = keys.indices.map(i =>
          EqualNullSafe(spineKey(i), gridKey(i)))
          .reduceLeft[Expression](And(_, _))
        Join(spine, g.resolved, LeftOuter, Some(cond), JoinHint.NONE)
      }
    if (residual.isEmpty) {
      val spine = grids.head
      def spineKey(i: Int): Expression = keyOf(spine, i)
      val joined = grids.tail.foldLeft(spine.resolved)((acc, g) =>
        joinBack(acc, g, spineKey, i => keyOf(g, i)))
      val outs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case ar: AttributeReference =>
          val i = keys.indexWhere(_.exprId == ar.exprId)
          Alias(spineKey(i), ar.name)(exprId = ar.exprId)
        case al: Alias => al.child match {
          case ar: AttributeReference =>
            val i = keys.indexWhere(_.exprId == ar.exprId)
            Alias(spineKey(i), al.name)(exprId = al.exprId)
          case _ =>
            Alias(rewriteHitTree(al.child, spineKey), al.name)(
              exprId = al.exprId)
        }
        case other => // unreachable under eligible()
          throw new IllegalStateException(
            s"unexpected aggregate output $other")
      }
      Project(outs, joined)
    } else {
      // Mixed legs: the residual Aggregate (original Alias objects, so
      // downstream references resolve unchanged) provides one row per
      // group — exactly the builtin's row set — and each grid result
      // LEFT-joins onto it per grouping key, null-safely so NULL-keyed
      // groups match their grid rows. Built over `shared` through a
      // fresh QueryExecution (same cache-substitution argument as the
      // grids above).
      val keyAliases = keys.zipWithIndex.map { case (k, i) =>
        Alias(k, s"__rk$i")() }
      val residualAgg = Glue.ofRows(spark, Aggregate(agg.groupingExpressions,
        (keyAliases ++ residual).toSeq, shared)).queryExecution.optimizedPlan
      val joined = grids.foldLeft(residualAgg)((acc, g) =>
        joinBack(acc, g, i => keyAliases(i).toAttribute,
          i => keyOf(g, i)))
      val outs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case ar: AttributeReference =>
          val i = keys.indexWhere(_.exprId == ar.exprId)
          Alias(keyAliases(i).toAttribute, ar.name)(exprId = ar.exprId)
        case al: Alias => al.child match {
          case ar: AttributeReference if keyIds.contains(ar.exprId) =>
            val i = keys.indexWhere(_.exprId == ar.exprId)
            Alias(keyAliases(i).toAttribute, al.name)(exprId = al.exprId)
          case _ if legOf(al).contains(true) =>
            Alias(
              rewriteHitTree(al.child, i => keyAliases(i).toAttribute),
              al.name)(exprId = al.exprId)
          case _ => al.toAttribute // residual leg, exprId preserved
        }
        case other => // unreachable under eligible()
          throw new IllegalStateException(
            s"unexpected aggregate output $other")
      }
      Project(outs, joined)
    }
  }
}

/** The distributed value grid: the one code path that turns a column
  * into exact order statistics, shared by the library's median and
  * quantile queries and by [[GridOrderStatsRule]].
  *
  * Spark's exact `median`/`percentile` aggregate buffers EVERY input
  * value of a group in one reducer — a global median over 100 TB is a
  * single-task OOM by construction. The grid form collapses the data to
  * its DISTINCT VALUE GRID with a map-side-combinable count
  * (`groupBy(keys, v).count()`), takes a per-key prefix sum over the
  * sorted grid ([[rangeCumsum]]), and reads each percentile's two
  * bracketing order statistics out of the cumulative counts. Per-group
  * state is the distinct value set, never the value list.
  */
object ValueGrid {

  /** Per-key sort-state bound under which a single window task is the
    * RIGHT plan for a prefix sum at any corpus scale: 4M cells ≈ ~100 MB
    * of spillable sort state.
    */
  private val CumsumSingleSortMaxCells = 4L * 1024 * 1024

  /** Largest per-key cell count of a (pinned) grid — the one number
    * the cumsum plan choice needs; an empty grid reads 0.
    */
  private def maxCellsPerKey(cnt: DataFrame, keys: Seq[String]): Long =
    cnt.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_cells"))
      .agg(coalesce(max("n_cells"), lit(0L)))
      .collect().head.getLong(0)

  /** The cumsum plan decision, MEMOIZED per canonicalized grid plan
    * ([[graft.ContextCaches.decideOnce]]): the probe is a blocking
    * collect(), and [[GridOrderStatsRule]] calls it from the optimizer
    * thread — un-memoized, every compile/explain of a percentile query
    * re-ran a nested cluster job. Warm re-executions of the same query
    * skip the probe job entirely. Within a session the decided grid is
    * immutable (it reads the same pinned collapse); a different data dir
    * or key set is a different memo key.
    */
  private def gridIsBounded(cnt: DataFrame, keys: Seq[String]): Boolean =
    graft.ContextCaches.decideOnce(cnt, "maxCells:" + keys.mkString(","))(
      maxCellsPerKey(cnt, keys)) <= CumsumSingleSortMaxCells

  /** Per-key prefix sum over a distinct-value grid: returns `grid` (key
    * columns, `v`, `c`) with the cumulative count `cum` — the value
    * `sum(c) OVER (PARTITION BY keys ORDER BY v)` yields. The form is
    * chosen from the data: a grid within [[CumsumSingleSortMaxCells]]
    * per key takes [[oneWindowCumsum]] (a bounded, spillable sort task
    * at ANY corpus scale), a corpus-sized one [[twoPhaseCumsum]]. Both
    * forms produce bit-identical `cum` (integral counts, exact
    * arithmetic). The probe reads `grid` once, so callers pass a pinned
    * grid; this function never pins.
    */
  private[graft] def rangeCumsum(grid: DataFrame, keys: Seq[String]): DataFrame =
    if (gridIsBounded(grid, keys)) oneWindowCumsum(grid, keys)
    else twoPhaseCumsum(grid, keys)

  /** The plain window form: one sort task per key. */
  private[graft] def oneWindowCumsum(grid: DataFrame,
      keys: Seq[String]): DataFrame =
    grid.withColumn("cum", sum(col("c")).over(
      Window.partitionBy(keys.map(col): _*).orderBy("v")))

  /** Two-phase range-partitioned prefix sum: no single task ever sorts a
    * key's whole grid. For a continuous measure the grid approaches the
    * row count (sf0.1 lineitem: 583k distinct `l_extendedprice` in 600k
    * rows), so at 100 TB the one-window task is the job.
    *
    * Phase 1 splits each key's grid into 32 spans at sample-quantile
    * boundaries computed over the GRID (unweighted by `c` — the cumsum's
    * cost is per grid cell, so cells are what need balancing), and
    * cumsums locally within each (key, bucket) span — parallel across
    * spans. Phase 2 cumsums the per-span totals (a keys × buckets frame
    * — tiny by construction) and broadcasts each span's starting offset
    * back. Counts are integral, so the split sum is bit-identical to the
    * single-window form. `v > boundary` sends boundary-equal values
    * left; a key whose sample yields fewer boundaries than requested
    * (tiny grids) just leaves spans empty.
    *
    * Boundaries come from a deterministic md5-hash sample of ~128 cells
    * per span, so a single outlier stretching the value range cannot
    * collapse every cell into one span the way a uniform [min, max]
    * split would. The sample must be DETERMINISTIC, not
    * `percentile_approx`: `bucketed` is referenced by both the
    * local-cumsum and the offsets branch, and a sketch whose merge is
    * partition-order-sensitive could assign a cell different buckets in
    * the two evaluations, silently corrupting the sum. The per-key
    * boundary-selection sort is over the SAMPLE (~buckets·128 values
    * regardless of grid size), so its aggregate state is bounded.
    */
  private[graft] def twoPhaseCumsum(grid: DataFrame,
      keys: Seq[String]): DataFrame = {
    val buckets = 32
    val nc = grid.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_cells"))
    val target = buckets * 128
    // Uniform-in-[0,1) deterministic hash of the value: md5 low 32 bits.
    val u = conv(substring(md5(col("v").cast("string")), 25, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0
    // One bounded aggregate turns the sample into per-key boundaries:
    // collect_list state is capped by the sample size (~target values
    // per key however large the grid), and the sample quantiles are
    // read straight out of the sorted array. Sub-sample duplicate
    // indices (grids smaller than the bucket count) just repeat a
    // boundary, which leaves that span empty.
    val bnds = grid.join(broadcast(nc), keys)
      .filter(u < lit(target.toDouble) / col("n_cells"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("v").cast("double"))).as("smp"))
      .select((keys.map(col) :+ expr(
        s"""transform(sequence(1, ${buckets - 1}),
           |  i -> element_at(smp, greatest(1,
           |         cast(i * size(smp) / $buckets as int))))
           |""".stripMargin).as("bnds")): _*)
    val bucketed = grid.join(broadcast(bnds), keys, "left")
      .withColumn("bkt", when(col("bnds").isNull, lit(0)).otherwise(
        aggregate(col("bnds"), lit(0),
          (acc, b) => acc + (col("v") > b).cast("int"))))
      .drop("bnds")
    val loc = bucketed.withColumn("loc", sum(col("c")).over(
      Window.partitionBy((keys :+ "bkt").map(col): _*).orderBy("v")))
    val offsets = bucketed
      .groupBy((keys :+ "bkt").map(col): _*).agg(sum("c").as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(
        Window.partitionBy(keys.map(col): _*).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("bc")
    loc.join(broadcast(offsets), keys :+ "bkt")
      .withColumn("cum", col("loc") + col("off"))
      .drop("bkt", "loc", "off")
  }

  /** Grouped exact percentiles of `value` per `keys`: one result column
    * `__q<i>` per requested percentage, NULL for a group with no
    * non-NULL value. An empty `keys` is the global form: exactly one
    * row, even over zero input rows.
    *
    * Keys travel wrapped in single-field structs: the grid's internal
    * equi-joins (cum ⋈ tot, the prefix-sum offsets) would silently drop
    * NULL-keyed groups — a struct is never null and struct comparison
    * treats null fields as equal, so every join and groupBy here is
    * null-safe. The output unwraps them under their original names.
    *
    * The collapse (one row per distinct (keys, v) cell, NULL-v cells
    * kept so the group list reads the same entry) is pinned in one
    * bounded pool shared by every caller: its consumers — the cumsum
    * probe, the prefix sum, the group totals, the group list — prune
    * different columns, so exchange reuse cannot dedupe them, and
    * unpinned each would re-run the scan+collapse.
    *
    * `needAllKeys` keeps every group of the input in the output (an
    * all-NULL-value group with NULL quantiles — the builtin's row set);
    * a caller that already holds the group list (the rule's residual
    * Aggregate) passes false and skips that join.
    *
    * No broadcast hints on the group-cardinality joins: a caller may
    * group by a high-cardinality key, where a forced broadcast would
    * collect every group to the driver. AQE converts them to broadcast
    * joins at runtime when the group side is actually small.
    */
  private[graft] def percentiles(df: DataFrame, keys: Seq[String],
      value: Column, ps: Seq[Double], needAllKeys: Boolean): DataFrame = {
    val global = keys.isEmpty
    val ks = if (global) Seq("__gkc") else keys
    val base = df.select((
      if (global) Seq(lit(0).as("__gkc"))
      else keys.map(k => struct(col(k)).as(k))) :+
      value.cast("double").as("v"): _*)
    val gridAll = graft.ContextCaches.pinBounded(
      base.groupBy((ks :+ "v").map(col): _*).agg(count(lit(1)).as("c")),
      "value-grid", 32)
    val counts = gridAll.filter(col("v").isNotNull)
    val scored = orderStats(counts, rangeCumsum(counts, ks), ks, ps)
    val qs = ps.indices.map(i => s"__q$i")
    if (global)
      // A global aggregate yields exactly one row even over zero input
      // rows (value NULL) — forced by the final global min over the
      // ≤1-row grouped result.
      scored.groupBy().agg(min(qs.head).as(qs.head),
        qs.tail.map(q => min(q).as(q)): _*)
    else {
      val rows = if (!needAllKeys) scored
        else gridAll.select(ks.map(col): _*).distinct()
          .join(scored, ks, "left")
      rows.select(ks.map(k => col(k).getField(k).as(k)) ++ qs.map(col): _*)
    }
  }

  /** Each percentage's value per key, read out of a grid's prefix sum
    * `cum` (key columns, `v`, `c`, `cum`) with the builtin's
    * interpolation. `counts` is the grid the prefix sum was taken over;
    * it supplies each key's total count `n`.
    */
  private[graft] def orderStats(counts: DataFrame, cum: DataFrame,
      keys: Seq[String], ps: Seq[Double]): DataFrame = {
    val tot = counts.groupBy(keys.map(col): _*).agg(sum("c").as("n"))
    val qs = ps.zipWithIndex.flatMap { case (p, i) =>
      // 0-based fractional position (n−1)·p, exactly the builtin's
      // arithmetic; a grid row covers 1-based rank r iff
      // cum − c < r ≤ cum.
      val pos = (col("n") - 1).cast("double") * lit(p)
      val cover = (r: Column) => col("cum") - col("c") < r && col("cum") >= r
      Seq(
        min(when(cover(floor(pos) + 1), col("v"))).as(s"__lo$i"),
        min(when(cover(ceil(pos) + 1), col("v"))).as(s"__hi$i"),
        max(col("n")).as(s"__n$i"))
    }
    val res = cum.join(tot, keys).groupBy(keys.map(col): _*)
      .agg(qs.head, qs.tail: _*)
    val out = ps.indices.map { i =>
      val pos = (col(s"__n$i") - 1).cast("double") * lit(ps(i))
      // Mirrors PercentileBase.getPercentile branch for branch:
      // integral position → lower; equal bracketing values → lower;
      // else (ceil−pos)·lo + (pos−floor)·hi.
      when(ceil(pos) === floor(pos), col(s"__lo$i"))
        .when(col(s"__lo$i") === col(s"__hi$i"), col(s"__lo$i"))
        .otherwise(
          (ceil(pos).cast("double") - pos) * col(s"__lo$i") +
            (pos - floor(pos).cast("double")) * col(s"__hi$i"))
        .as(s"__q$i")
    }
    res.select((keys.map(col) ++ out): _*)
  }
}
