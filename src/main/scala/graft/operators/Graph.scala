package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over relationship graphs derived from the
  * warehouse — the ranking/centrality complement to [[Dedup]]'s
  * connected components. First member: PageRank over the bipartite
  * customer–supplier purchase graph.
  *
  * Scale shape of the iteration: each round is ONE shuffle equi-join of
  * the rank frame with the (pinned, degree-annotated) edge list plus
  * one partial+final aggregate keyed by destination — the standard
  * distributed PageRank plan, no driver-side graph state, no all-pairs
  * stage. Rank lineage is linear (each frame consumed once by the next
  * round), so the fixed 10 rounds run lazily as one job; an unbounded
  * or self-referencing iteration would need the checkpoint treatment
  * [[Dedup]]'s star contraction uses.
  */
object Graph {

  // Fixed-iteration PageRank: the damping factor everyone uses (Page et
  // al. 1999) and enough rounds for rank mass to stabilize well past
  // the 6-decimal comparison gate on graphs of this diameter (the
  // bipartite purchase graph has diameter ~4 at every SF).
  private val PrDamp = 0.85
  private val PrIters = 10
  private val PrTopK = 25

  /** Node-count bound under which each round's rank frame is BROADCAST
    * to the join instead of shuffle-hash built (guide §3.1: broadcast
    * the side that fits). The rank frame is two 8-byte columns; 4M rows
    * is ≈ 64 MB of payload (~200 MB framed) — comfortably inside the
    * broadcast envelope and far under the 8 GB / 512M-row hard cap.
    * Below the bound the per-round join carries NO exchange at all:
    * the pinned src-partitioned edge list streams straight out of
    * cache into a BroadcastHashJoin, so each round costs exactly one
    * shuffle (the dst contribution aggregate) instead of two. Above it
    * (a 100 TB graph's node list) the rank side shuffles into a
    * per-partition hash build, which scales with nodes/partitions —
    * the r15 choice, still the scale-right strategy. The switch is
    * data-driven at runtime off the SAME nodes.count() the uniform
    * start already pays, exactly like AQE's size-based join choices —
    * not a local[32] constant.
    */
  private val PrBroadcastMaxNodes = 4L * 1024 * 1024

  /** Exact, order-independent sum of O(1)-magnitude doubles: per-addend
    * cast to DECIMAL(38,18) (rank contributions are ~1/degree/N, where
    * 18 decimals keep the terms themselves exact — dsum's 6 would
    * quantize them) so partition order can't move the result and the
    * oracle's identically-shaped sum is bit-equal.
    */
  private def d18(c: Column): Column =
    sum(c.cast(DecimalType(38, 18))).cast("double")

  /** PageRank over the bipartite customer–supplier purchase graph:
    * nodes are customers and suppliers connected by "bought from"
    * edges (distinct (custkey, suppkey) pairs via orders ⋈ lineitem),
    * made symmetric so rank flows both ways — the entity-importance
    * score a curation/analytics stack uses to weight sources. Nodes
    * live in one id space (customer k → 2k, supplier k → 2k+1).
    *
    * The graph is connected-by-construction to its edge endpoints
    * (isolated entities carry no rank), every node has degree ≥ 1 and,
    * being symmetric, an inbound edge — so there is no dangling mass
    * and the per-round aggregate covers every node. Rank update:
    * r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg(u), 10 rounds from the
    * uniform start. Contribution sums accumulate in DECIMAL(38,18)
    * ([[d18]]) making each round's ranks bit-identical to the oracle's
    * unrolled-CTE twin; the head is the top-[[PrTopK]] nodes.
    */
  private def pagerank(s: SparkSession, d: String): DataFrame = {
    val rawEdges = purchaseEdges(s, d)
    val nodes = rawEdges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .pinned() // initial rank frame + the edge-degree attach
    val nNodes = nodes.count().toDouble
    // Degree rides ON the pinned edge list, so each round is exactly
    // one rank⋈edges join + one dst aggregate — a first cut re-joined
    // degrees onto the rank frame every round (2 joins/round) and
    // eagerly localCheckpoint'ed each one (10 blocking jobs); rank
    // lineage is LINEAR (each frame referenced once by the next), so
    // unlike star contraction nothing re-analyzes exponentially and the
    // whole 10-round dataflow can run lazily as one job. 11.0s → ~2s at
    // sf0.1.
    //
    // Pin partitioning follows the join build ([[pagerankRound]]): on
    // the BROADCAST path the join never consults the edge layout, so
    // the pin partitions by DST — the per-round contribution aggregate
    // then finds its clustering already satisfied (alias-aware through
    // the project) and EVERY round runs as a single exchange-free stage
    // over cache: broadcast-join + partial+final aggregate in one pass.
    // On the shuffle path (nodes above [[PrBroadcastMaxNodes]]) the pin
    // keeps SRC partitioning so the per-round join moves only the
    // node-cardinality rank frame — the r15 layout, still the scale
    // shape: there the dst aggregate's exchange is unavoidable anyway,
    // and src partitioning saves re-shuffling the big edge side 10×.
    val pinKey =
      if (nNodes <= PrBroadcastMaxNodes) col("dst") else col("src")
    val edges = rawEdges
      .join(nodes, col("src") === col("node"))
      .select(col("src"), col("dst"), col("deg").cast("double").as("dsrc"))
      .repartition(pinKey)
      .pinned() // consumed once per iteration
    var ranks = nodes.select(col("node"), lit(1.0 / nNodes).as("rank"))
    for (_ <- 1 to PrIters)
      ranks = pagerankRound(ranks, edges, nNodes)
    prHead(ranks)
  }

  /** One power-iteration round over the degree-annotated pinned edge
    * list: rank⋈edges join + dst aggregate.
    */
  private def pagerankRound(ranks: DataFrame, edges: DataFrame,
      nNodes: Double): DataFrame = {
    // Join build on the node-cardinality rank frame, chosen from the
    // measured node count (guide §3.1): BROADCAST while the rank frame
    // provably fits ([[PrBroadcastMaxNodes]]) — the per-round join then
    // carries no exchange at all and the cached src-partitioned edges
    // stream straight through — SHUFFLE_HASH above it (per-partition
    // hash build scales with nodes/partitions; the default
    // SortMergeJoin re-sorted the pinned 1.2M-row edge partitions
    // every round). The checkpointed rank leaf has no size statistics,
    // so the planner can never make this choice itself; the hint only
    // changes the physical strategy, never the rows.
    val build =
      if (nNodes <= PrBroadcastMaxNodes) "broadcast" else "shuffle_hash"
    val contribs = ranks.hint(build)
      .join(edges, col("node") === col("src"))
      .select(col("dst").as("node"), (col("rank") / col("dsrc")).as("w"))
    contribs.groupBy("node")
      .agg(((lit(1.0) - lit(PrDamp)) / lit(nNodes) +
        lit(PrDamp) * d18(col("w"))).as("rank"))
      // LAZY plan truncation: each round's Catalyst tree stays 3
      // nodes deep (join+agg over a LogicalRDD leaf) instead of the
      // full accumulated chain — a 10-round lazy chain paid
      // O(rounds²) re-analysis plus per-stage AQE re-optimization of
      // the whole 40-stage plan (43s cold at sf0.1; this form ~7s).
      // eager=false defers materialization, so unlike the eager
      // checkpoint there are still no 10 blocking driver round-trips:
      // the final collect drives the whole RDD chain.
      .localCheckpoint(false)
  }

  private def prHead(ranks: DataFrame): DataFrame =
    ranks
      .orderBy(col("rank").desc, col("node"))
      .limit(PrTopK)
      .select(
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("node_type"),
        expr("node div 2").as("node_key"),
        r6(col("rank")).as("rank"))

  // ------------------------------------------------------- triangles

  private val TriYear = 1995
  private val TriTopK = 15

  /** Triangle participation counts on the part co-purchase graph (parts
    * appearing on the same order, restricted to lineitems shipped in
    * [[TriYear]] to keep the cohort graph sparse): the local-clustering
    * primitive behind community detection and recommendation features.
    * Output: top-[[TriTopK]] parts by number of triangles they sit in.
    *
    * Scale shape: the canonical degree-ordered node-iterator (Schank &
    * Wagner 2005). Edges are directed from the lower-(degree, id) node
    * to the higher, so every triangle is enumerated exactly once and
    * per-node wedge fan-out is bounded by O(√m) on any degree
    * distribution — id-ordering alone would let one high-degree hub
    * with a small id generate a quadratic wedge list. Wedges stream
    * through one equi-join on the middle node and close against the
    * directed edge list on the (endpoint, endpoint) pair key; no stage
    * is all-pairs. The oracle counts the same triangles with plain
    * id-ordering — the triangle SET is ordering-independent.
    */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val pp = Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === TriYear)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
    val e = pp.as("a").join(pp.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .distinct()
      .pinned() // consumed by the degree count and the directed rewrite
    val deg = e.select(col("p1").as("p"))
      .unionAll(e.select(col("p2").as("p")))
      .groupBy("p").agg(count(lit(1)).as("dg"))
    val ed = e
      .join(deg.select(col("p").as("p1"), col("dg").as("d1")), "p1")
      .join(deg.select(col("p").as("p2"), col("dg").as("d2")), "p2")
    val fwd = col("d1") < col("d2") ||
      (col("d1") === col("d2") && col("p1") < col("p2"))
    val de = ed.select(
        when(fwd, col("p1")).otherwise(col("p2")).as("src"),
        when(fwd, col("p2")).otherwise(col("p1")).as("dst"))
      .pinned() // consumed by both sides of the wedge join + the close
    val wedges = de.as("x").join(de.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
        col("y.dst").as("w"))
    val tri = wedges.join(de.as("z"),
      col("u") === col("z.src") && col("w") === col("z.dst"))
    tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("p_partkey"))
      .groupBy("p_partkey").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("p_partkey"))
      .limit(TriTopK)
  }

  // ------------------------------------------------------ reachability

  private val BfsSource = 3L // supplier key 1 in the shared node id space
  private val BfsRounds = 6

  /** BFS hop-distance profile from a fixed source (supplier 1) over the
    * bipartite purchase graph: how many entities sit at each hop count —
    * the reachability/diameter readout next to PageRank's centrality.
    * [[BfsRounds]] rounds cover the graph's ~4-hop diameter with slack;
    * nodes never reached are (correctly) absent.
    *
    * Scale shape: frontier-free min-distance iteration — each round is
    * one equi-join of the node-cardinality distance frame with the
    * pinned edge list plus a min-aggregate, the same bounded shape as
    * PageRank's rounds. Unlike PageRank's linear lineage, each round
    * references its predecessor TWICE (join + union), so every round is
    * eagerly localCheckpoint'ed — the [[Dedup]] star-contraction lesson;
    * an unbroken lineage would double per round.
    */
  private def reach(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Pinned WITH src partitioning (the g1_pagerank lesson applied in
    // r15): the per-round equi-join then reuses the cached layout and
    // moves only the frontier side — unpartitioned, each of the 6
    // rounds re-shuffled the full symmetric edge list (r15 measured
    // 3.0s; see OPTIMIZATION_r15.md).
    val edges = purchaseEdges(s, d).repartition(col("src")).pinned()
    // Frontier-side join build, data-driven like [[pagerankRound]]'s:
    // the frontier is bounded by the node count, which is bounded by
    // the edge count (every node carries ≥ 1 edge) — counting the
    // just-pinned edges is a cache-resident aggregate the loop's first
    // join would have materialized anyway. Under the bound each round's
    // frontier BROADCASTS (no exchange; cached edges stream through);
    // above it the per-partition hash build takes over (scale path).
    val build = if (edges.count() <= PrBroadcastMaxNodes) "broadcast"
      else "shuffle_hash"
    var dist = Seq((BfsSource, 0)).toDF("node", "dist")
    for (r <- 1 to BfsRounds) {
      // FRONTIER join (r15): only nodes first discovered last round
      // (dist = r−1) can contribute a new minimum — a node found at
      // round j propagates dist j+1 to its neighbors at round j+1;
      // re-propagating it later yields only ≥-existing distances, so
      // filtering to the frontier is the classic level-synchronous BFS
      // invariant, bit-identical output. The unfiltered form re-joined
      // the ENTIRE discovered set against the edge list every round —
      // at diameter ~4, rounds 5–6 re-derived every known distance for
      // zero new information.
      val next = dist.filter(col("dist") === (r - 1))
        .hint(build) // frontier-side build: no edge shuffle or sort
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      // eager=false: the plan still truncates to a LogicalRDD leaf per
      // round (each round references its predecessor twice — join +
      // union — so an unbroken lineage would double per round), but
      // materialization happens inside the final job instead of 6
      // blocking driver round-trips; both references compute the
      // checkpointed RDD once.
      dist = dist.unionByName(next)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(false)
    }
    dist.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  // ------------------------------------------------- node similarity

  private val JacTopK = 20

  /** Per-customer supplier-array chunk width for [[jaccard]]'s pair
    * generation. Work per exploded chunk-pair row is ≤ JacChunk² cheap
    * comparisons feeding a map-side partial aggregate, so one task's
    * share of a hub customer is bounded by the CHUNK, not the hub's
    * degree. 256 keeps a chunk-pair row ≤ ~4 KB (two long arrays) and
    * a task's pair quota at 65k — far below a straggler — while
    * leaving every natural customer (max degree ~102 in this corpus at
    * every measured scale) in a single chunk with zero overhead.
    */
  private val JacChunk = 256

  /** Degree threshold where the chunk build switches from the
    * in-expression flatten to the segmented key-join assembly. At
    * 4 × [[JacChunk]] the in-expression path materializes at most
    * C(4+1, 2) = 10 chunk-pair structs (≤ ~40 KB) inside one
    * expression evaluation — trivially bounded — while everything
    * above it (only genuine hubs; natural max degree is ~102 in this
    * corpus at every measured scale) pays the key-join build that
    * spreads a degree-10⁶ hub's ~7.6M chunk keys across the cluster.
    * The split exists because r14's all-segmented build made EVERY
    * customer pay the (c, i, j) key-join that only extreme hubs need:
    * the planted-3000-hub inflation rose 1.04× → 1.78× (hub_gate.json
    * r14) purely from that overhead on the ~99.97% of customers with
    * nch = 1. NOTE: declared before every val that derives from it
    * ([[JacCapDeg]]) — object vals initialize in declaration order and
    * a forward reference silently reads 0.
    */
  private val JacSegDeg = 4 * JacChunk

  /** Supplier-pair Jaccard similarity of customer neighborhoods — the
    * graph-native "related entities" primitive (who serves the same
    * customer base?): J(a,b) = |C(a) ∩ C(b)| / |C(a) ∪ C(b)| over the
    * distinct customer sets, top-[[JacTopK]] pairs.
    *
    * Scale shape: candidate pairs come ONLY from co-occurrence, the
    * PPJoin/minhash candidate philosophy [[Dedup]] uses on text — but
    * NOT via the naive incidence self-join (which shuffles the full
    * (customer, supplier) list twice and materializes every candidate
    * pair as a join output row; measured at 10× that 125M-row stage's
    * wall swung 11–69s run-to-run from shuffle/GC pressure alone).
    * Instead each customer's distinct suppliers are gathered into
    * [[JacChunk]]-wide chunk arrays and the ((i ≤ j) chunk-pair rows,
    * ~1 row per natural customer) are built by a DEGREE-HYBRID
    * generator ([[jaccardChunkPairs]]): in-expression for everyone
    * under [[JacSegDeg]], segmented (rank-partitioned arrays assembled
    * via tiny (c, i, j) key-row joins — never one O(degree) row) for
    * hubs above it, then REPARTITIONED before a nested explode
    * generates (s1 < s2) pairs straight into a map-side partial count
    * keyed by the pair. The pair volume Σ_c C(deg_c, 2) is unchanged
    * (it is the algorithm's output contract), but no pair ever crosses
    * a shuffle: the only post-explode exchange carries the DISTINCT
    * (s1, s2) partial counts, bounded by supplier².
    *
    * Hub-degree guard: a hub customer of degree D contributes
    * C(⌈D/chunk⌉+1, 2) chunk-pair rows that the repartition spreads
    * across the cluster — each task does ≤ chunk² work — where the
    * self-join form would land all C(D, 2) pairs on ONE join key
    * (quadratic straggler; the hub gate in [[graft.Gates]] plants
    * exactly this customer shape and bounds the inflation). The
    * segmented build keeps every per-stage unit bounded too: the widest
    * ROW anywhere is one
    * JacChunk array, and the hub's only single-task stages are the
    * window sort (O(D log D), spillable) and the tiny key-row explode.
    * Chunks are consecutive rank ranges of the per-customer sort, so
    * cross-chunk (i < j) pairs are ordered by construction and
    * within-chunk pairs order by value; no positions are carried.
    * Unions come from broadcast degree counts (supplier-cardinality
    * frame). All counts are exact BIGINTs; the one division happens in
    * doubles on both engines.
    */
  private def jaccard(s: SparkSession, d: String): DataFrame =
    jaccardTopK(jaccardIncidence(s, d))

  /** The shared candidate → intersection-count → score → top-k pipeline
    * behind both jaccard variants. `capDeg` bounds the candidate
    * expansion ([[jaccardChunkPairs]]); union denominators always come
    * from the FULL (uncapped) supplier degrees, so on any corpus whose
    * max customer degree is ≤ `capDeg` the output is bit-identical to
    * the exact operator's.
    */
  private[graft] def jaccardTopK(cs: DataFrame,
      capDeg: Long = Long.MaxValue): DataFrame = {
    val deg = cs.groupBy("sup").agg(count(lit(1)).as("dg"))
    val chunkPairs = jaccardChunkPairs(cs, capDeg)
    val pairs = chunkPairs
      .select(col("i"), col("j"), col("b"), explode(col("a")).as("s1"))
      .select(col("s1"), col("i"), col("j"), explode(col("b")).as("s2"))
      // cross-chunk (i < j): all pairs, already s1 < s2 (sorted slices);
      // within-chunk (i = j): value order dedups the unordered pairs.
      .filter(col("i") < col("j") || col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(deg.select(col("sup").as("s1"), col("dg").as("d1"))),
        "s1")
      .join(broadcast(deg.select(col("sup").as("s2"), col("dg").as("d2"))),
        "s2")
      .select(col("s1"), col("s2"),
        r6(col("inter").cast("double") /
          (col("d1") + col("d2") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("s1"), col("s2"))
      .limit(JacTopK)
  }

  /** Degree cap for [[jaccardCapped]]'s exact candidate expansion.
    * Set at [[JacSegDeg]] so that on a NATURAL corpus (max degree ~102
    * at every measured scale) the capped candidate set is IDENTICAL to
    * [[jaccard]]'s: scoring is exact intersection counts over the
    * capped expansion (the r15 redesign — no minhash estimate anywhere),
    * so whenever max customer degree ≤ this cap the output is
    * bit-identical to the exact operator — recall 1.0 by construction,
    * which the bench recall field and its `recall_flags` pin. Only
    * above the cap (adversarial hubs) does the output diverge, by the
    * documented curation semantics: hub-mediated co-occurrence is
    * excluded.
    */
  private val JacCapDeg: Long = JacSegDeg.toLong

  /** Curation-mode supplier Jaccard for SKEWED corpora — same output
    * shape as [[jaccard]] (top-[[JacTopK]] supplier pairs by customer-
    * neighborhood Jaccard) with BOUNDED work on heavy-tailed customer
    * degrees, where the exact operator is quadratic in hub degree by
    * its own semantics (the skew gate measured a 99.8× pair-volume
    * blow-up under Zipf(1.2) keys absorbed in 47× wall — correct, but
    * not what a 100 TB curation pass should pay for hubs that carry
    * almost no similarity signal anyway).
    *
    * The DISCO/frequency-cap bound: candidate pairs AND intersection
    * counts come only from customers of degree ≤ [[JacCapDeg]] (the
    * [[jaccardChunkPairs]] machinery with its cap engaged) — work
    * Σ_{deg≤cap} C(deg, 2), linear under any tail because per-customer
    * contribution is capped at C(cap, 2). Union denominators use the
    * FULL degrees, so a hub-heavy supplier's score is suppressed
    * (capped intersection over true union) — exactly the curation
    * semantics: co-occurrence that exists only through promiscuous hub
    * keys is similarity noise, the same reason [[Dedup]]'s text
    * pipeline drops stop-shingles.
    *
    * On any corpus whose max customer degree is ≤ the cap (every
    * natural corpus measured: max ~102 at all SFs vs cap 1024) the
    * output is BIT-IDENTICAL to [[jaccard]] — recall 1.0 by
    * construction, which the bench's recall field and its
    * `recall_flags` pin.
    *
    * Round-15 measured redesign (OPTIMIZATION_r15.md): the r14 variant
    * scored candidates by 128-component minhash over full customer
    * sets. At the official sf0.1 scale the exact top-40 Jaccard scores
    * span 0.0434–0.0403 over 499,500 candidate pairs, while the
    * estimator's σ at J≈0.04 is ≈0.017 quantized to 1/128 steps —
    * top-k ranking recall vs exact measured 0.00 (the dev-scale 0.95
    * the r14 floor was pinned from came from a 10-supplier corpus with
    * 45 pairs). No hash count a signature pass could afford resolves a
    * 5·10⁻⁴ score gap; exact-over-capped-expansion ranks sharply at
    * every scale, deletes the 128-aggregate signature pass + pair
    * `distinct` + two shuffled signature joins (measured in the bench),
    * and keeps the SAME hub-work bound. No DuckDB oracle (the cap is
    * engine-side); accuracy is pinned by the bench's recall vs
    * [[jaccard]] and GraphSpec's equality-under-cap test.
    */
  private def jaccardCapped(s: SparkSession, d: String): DataFrame =
    jaccardTopK(jaccardIncidence(s, d), capDeg = JacCapDeg)

  /** [[jaccardCapped]]'s work contract for the growth/skew gates:
    * capped candidate volume Σ_{deg ≤ cap} C(deg, 2). Unlike
    * [[jaccardPairVolume]], this metric stays ~linear under a Zipf
    * tail — which is the variant's entire reason to exist, so the gate
    * verifies the bound rather than excusing its absence. (The r14
    * `+ 128 × rows` signature-pass term left with the minhash scoring
    * — see [[jaccardCapped]].)
    */
  private[graft] def jaccardCappedWork(s: SparkSession, d: String): Double = {
    val r = jaccardIncidence(s, d)
      .groupBy("c").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(when(col("n") <= JacCapDeg,
          col("n") * (col("n") - 1) / 2).otherwise(lit(0L))), lit(0L))
          .cast("double").as("pairs"))
      .collect().head
    r.getDouble(0)
  }

  /** The distinct (customer, supplier) incidence list both [[jaccard]]
    * stages read, pinned once. */
  private def jaccardIncidence(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct()
      .pinned() // consumed by the chunk build + degrees
  }

  /** [[jaccard]]'s chunk-pair generator, exposed for the hub gate's
    * extreme-hub probe in [[graft.Gates]] (which must drive THIS
    * stage — the one the pre-r14 build could not survive at degree
    * 10⁶ — without paying the downstream C(D, 2) explode, an output
    * volume no plan can dodge). Returns (c, i, j, a, b) chunk-pair
    * rows, repartitioned and ready for the nested explode.
    */
  private[graft] def jaccardChunkPairsFor(s: SparkSession,
      d: String): DataFrame = jaccardChunkPairs(jaccardIncidence(s, d))

  /** @param capDeg customers above this degree are DROPPED entirely —
    *   [[jaccardCapped]]'s curation-mode contract (hub-mediated
    *   co-occurrence is excluded; pairs under the cap are scored
    *   exactly). The default keeps every customer: [[jaccard]]'s exact
    *   semantics.
    */
  private def jaccardChunkPairs(cs: DataFrame,
      capDeg: Long = Long.MaxValue): DataFrame = {
    // HYBRID build. One window pass over the incidence list (a single
    // hash(c) exchange + per-customer sort) annotates each row with
    // its customer's degree and sorted rank; the two paths split on
    // the degree WITHOUT another exchange (both groupBys are clustered
    // by c, which hash(c) satisfies):
    //
    //  - degree ≤ [[JacSegDeg]] (every natural customer): collect ONE
    //    sorted array per customer and build all C(nch+1, 2) ≤ 10
    //    chunk-pair structs in-expression — no join, no key frame, so
    //    a customer's rows never touch a second shuffle before the
    //    final spread. This is the r13 form, now degree-guarded.
    //  - degree > [[JacSegDeg]] (hubs only): SEGMENTED — row_number
    //    rank-partitions the customer's sorted suppliers into
    //    consecutive ≤ JacChunk-wide (c, ci) arrays, so no single row
    //    (and no single expression evaluation) is ever wider than
    //    JacChunk. A degree-10⁶ hub under the in-expression form would
    //    materialize ~7.6M 4 KB structs (~30 GB) inside ONE task's
    //    expression evaluation before the explode could stream them;
    //    here its ~7.6M (c, i, j) KEYS (~24 B each, a ~200 MB stream)
    //    explode first and two equi-joins attach the array payloads
    //    AFTER a shuffle keyed by (c, i) / (c, j), spreading the hub's
    //    payload assembly over its nch chunk keys.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c").orderBy("sup")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("c")
    // EXPLICIT-N repartition feeding the window (r16; the
    // dd_edit_distance lesson): the incidence list is byte-tiny (~9 MB
    // at sf0.1), so the window's own ENSURE_REQUIREMENTS exchange got
    // AQE-coalesced to ONE partition — and the per-customer sort, the
    // collect_list, AND the chunk-struct Generate (the stage whose
    // per-row cost byte stats cannot see) all ran serially on every
    // pass. REPARTITION_BY_NUM pins the hash(c) layout at the session's
    // shuffle parallelism (scale-parameterised, not a local[32]
    // constant), satisfies the window's clustering requirement (so no
    // second exchange appears), and both downstream groupBy(c) branches
    // reuse it. Measured (this container, warm subset bench):
    // g4_jaccard 5.73 → 2.60 s, g4_jaccard_capped 5.70 → 2.52 s.
    val n = cs.sparkSession.sessionState.conf.numShufflePartitions
    val ranked = cs
      .repartition(n, col("c"))
      .withColumn("dg", count(lit(1)).over(wc))
      .withColumn("rn", row_number().over(w))
      .filter(col("dg") <= capDeg)
    val flat = ranked.filter(col("dg") <= JacSegDeg)
      .groupBy("c")
      .agg(sort_array(collect_list(col("sup"))).as("sups"))
      .select(col("c"), explode(expr(
        s"""flatten(transform(
           |  sequence(0, int(ceil(size(sups) / ${JacChunk}d)) - 1), i ->
           |  transform(sequence(i, int(ceil(size(sups) / ${JacChunk}d)) - 1),
           |    j -> struct(i, j,
           |      slice(sups, i * $JacChunk + 1, $JacChunk) AS a,
           |      slice(sups, j * $JacChunk + 1, $JacChunk) AS b))))
           |""".stripMargin)).as("cp"))
      .select(col("c"), col("cp.i").as("i"), col("cp.j").as("j"),
        col("cp.a").as("a"), col("cp.b").as("b"))
    val chunks = ranked.filter(col("dg") > JacSegDeg)
      .withColumn("ci", ((col("rn") - 1) / JacChunk).cast("int"))
      .groupBy(col("c"), col("ci"))
      .agg(sort_array(collect_list(col("sup"))).as("arr"))
      .pinned() // consumed 3×: chunk counts + both pair-join sides
    val keys = chunks.groupBy("c")
      .agg((max(col("ci")) + 1).as("nch"))
      .select(col("c"),
        explode(sequence(lit(0), col("nch") - 1)).as("i"), col("nch"))
      .select(col("c"), col("i"),
        explode(sequence(col("i"), col("nch") - 1)).as("j"))
    val segmented = keys
      .join(chunks.select(col("c"), col("ci").as("i"), col("arr").as("a")),
        Seq("c", "i"))
      .join(chunks.select(col("c"), col("ci").as("j"), col("arr").as("b")),
        Seq("c", "j"))
      .select(col("c"), col("i").cast("int").as("i"),
        col("j").cast("int").as("j"), col("a"), col("b"))
    flat.unionByName(segmented)
      // Spread a hub's chunk-pair rows evenly across tasks BEFORE the
      // explode: the segmented join leaves them clustered by (c, j) —
      // balanced enough to survive, but the largest (c, j) group still
      // holds nch rows of one customer. Measured negative result (r13,
      // still applies to this generator): shipping b = NULL for the
      // dominant i = j rows (to halve the repartition payload, reading
      // the second explode from coalesce(b, a)) ran ~40% SLOWER at 10×
      // — the nullable array branch costs more in the generate/codegen
      // path than the duplicate slice costs the shuffle.
      //
      // EXPLICIT N (r16): chunk-pair rows are ~1 per natural customer
      // (~15 MB at sf0.1), so the keyless-N REPARTITION_BY_COL exchange
      // got AQE-coalesced to one partition and the 12.5M-pair double
      // explode + partial count ran serially. (c, i, j) keys are
      // near-unique, so the pinned hash spread cannot skew.
      .repartition(cs.sparkSession.sessionState.conf.numShufflePartitions,
        col("c"), col("i"), col("j"))
  }

  /** Customer-side degree profile of THE SAME incidence list
    * [[jaccard]] builds: (max customer degree, candidate-pair volume
    * Σ_c C(deg_c, 2)). One shared construction so the two consumers —
    * the growth gate's work metric and the hub gate's planted-hub
    * accounting ([[graft.Gates]]) — cannot silently diverge from what
    * the operator actually sees; both numbers are variance-free where
    * the pair stage's wall is not.
    */
  private[graft] def customerDegreeStats(s: SparkSession,
      d: String): (Long, Double) = {
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val r = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct()
      .groupBy("c").agg(count(lit(1)).as("n"))
      // coalesce: an empty incidence list aggregates to NULLs, not 0s.
      .agg(coalesce(max(col("n")), lit(0L)).as("max_deg"),
        coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)).as("pairs"))
      .collect().head
    (r.getAs[Number](0).longValue, r.getAs[Number](1).doubleValue)
  }

  /** [[jaccard]]'s exact work contract, for the growth gate's work
    * metric ([[graft.Gates]]): the candidate-pair volume the chunked
    * generator must emit.
    */
  private[graft] def jaccardPairVolume(s: SparkSession, d: String): Double =
    customerDegreeStats(s, d)._2

  /** Symmetric customer–supplier purchase edges in the shared node id
    * space (customer k → 2k, supplier k → 2k+1) — the graph under both
    * [[pagerank]] and [[reach]].
    */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct()
    // Cast to long BEFORE the ×2 encode: Tables allows INT keys, and a
    // custkey above 2^30 would wrap in 32-bit arithmetic pre-cast at
    // the large scale factors this family targets (DuckDB's oracle
    // arithmetic would not wrap the same way, so the gate would also
    // diverge).
    val c2 = col("c").cast("long") * 2
    val s2 = col("sup").cast("long") * 2 + 1
    cs.select(c2.as("src"), s2.as("dst"))
      .union(cs.select(s2.as("src"), c2.as("dst")))
  }

  /** g1's oracle unrolls the [[PrIters]] rounds as chained CTE pairs
    * (update, re-attach degree) — recursive CTEs can't aggregate over
    * the recursive term portably, and the unrolled form is the same
    * dataflow the engine runs.
    */
  private val prRoundsSql = (1 to PrIters).map { i =>
    s"""r$i AS (SELECT e.dst AS node,
       |    (1 - CAST($PrDamp AS DOUBLE)) / n + CAST($PrDamp AS DOUBLE) *
       |      CAST(sum(CAST(p.rank / CAST(p.deg AS DOUBLE)
       |        AS DECIMAL(38,18))) AS DOUBLE) AS rank
       |  FROM r${i - 1}d p JOIN e ON p.node = e.src, n0
       |  GROUP BY e.dst, n),
       |r${i}d AS (SELECT r$i.node, r$i.rank, deg.deg
       |  FROM r$i JOIN deg ON r$i.node = deg.node)""".stripMargin
  }.mkString(",\n")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("g1_pagerank", pagerank _, Oracle(
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT CAST(c AS BIGINT) * 2 AS src, CAST(sup AS BIGINT) * 2 + 1 AS dst FROM cs
         |      UNION ALL SELECT CAST(sup AS BIGINT) * 2 + 1, CAST(c AS BIGINT) * 2 FROM cs),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
         |n0 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
         |r0d AS (SELECT node, CAST(1 AS DOUBLE) / n AS rank, deg
         |        FROM deg, n0),
         |$prRoundsSql
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier'
         |    END AS node_type,
         |  CAST(node // 2 AS BIGINT) AS node_key, round(rank, 6) AS rank
         |FROM r${PrIters}d
         |ORDER BY rank DESC, node LIMIT $PrTopK""".stripMargin)),
    // Plain id-ordering (a < b < c): the triangle SET is identical to
    // the engine's degree-ordering; only the distributed fan-out bound
    // differs, which a single-node oracle doesn't need.
    QuerySpec("g2_triangles", triangles _, Oracle(
      s"""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
         |  FROM lineitem WHERE year(l_shipdate) = $TriYear),
         |e AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey),
         |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         |  FROM e e1
         |  JOIN e e2 ON e1.p2 = e2.p1
         |  JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
         |SELECT p_partkey, count(*) AS n_tri
         |FROM (SELECT a AS p_partkey FROM t
         |      UNION ALL SELECT b FROM t
         |      UNION ALL SELECT c FROM t)
         |GROUP BY p_partkey
         |ORDER BY n_tri DESC, p_partkey LIMIT $TriTopK""".stripMargin)),
    QuerySpec("g4_jaccard", jaccard _, Oracle(
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |deg AS (SELECT sup, count(*) AS dg FROM cs GROUP BY sup),
         |p AS (SELECT a.sup AS s1, b.sup AS s2, count(*) AS inter
         |  FROM cs a JOIN cs b ON a.c = b.c AND a.sup < b.sup
         |  GROUP BY 1, 2)
         |SELECT s1, s2,
         |  round(CAST(inter AS DOUBLE) /
         |    CAST(d1.dg + d2.dg - inter AS DOUBLE), 6) AS jaccard
         |FROM p
         |JOIN deg d1 ON p.s1 = d1.sup
         |JOIN deg d2 ON p.s2 = d2.sup
         |ORDER BY jaccard DESC, s1, s2 LIMIT $JacTopK""".stripMargin),
      growth = Some(WorkGated(1.3, 2.5, jaccardPairVolume,
        "work = candidate-pair volume sum_c C(deg_c,2): the chunked " +
          "generator's exact output contract, linear for bounded " +
          "customer degree; wall tracking catches a regressed pair " +
          "stage the count cannot see"))),
    // Recursive BFS: the UNION (distinct) bounds the working set to
    // (node, dist≤rounds) pairs, so cycles terminate; min(dist) per
    // node afterwards is the hop distance.
    QuerySpec("g3_reach", reach _, Oracle(
      s"""WITH RECURSIVE cs AS (SELECT DISTINCT o_custkey AS c,
         |    l_suppkey AS sup
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT CAST(c AS BIGINT) * 2 AS src, CAST(sup AS BIGINT) * 2 + 1 AS dst FROM cs
         |      UNION ALL SELECT CAST(sup AS BIGINT) * 2 + 1, CAST(c AS BIGINT) * 2 FROM cs),
         |b(node, dist) AS (
         |  SELECT CAST($BfsSource AS BIGINT), 0
         |  UNION
         |  SELECT e.dst, b.dist + 1 FROM b JOIN e ON b.node = e.src
         |  WHERE b.dist < $BfsRounds)
         |SELECT dist, count(*) AS n_nodes
         |FROM (SELECT node, min(dist) AS dist FROM b GROUP BY node)
         |GROUP BY dist ORDER BY dist""".stripMargin)),
    // Exact-over-capped-expansion scoring is bit-identical to the
    // exact operator whenever max customer degree <= the cap (true of
    // every natural corpus measured; r15 measured 1.00 at sf0.1). The
    // 0.02 allowance covers only a regenerated corpus that grows a
    // genuine hub past the cap. The r14 minhash scoring this replaced
    // measured 0.00 here — its 0.95 floor basis came from the
    // 10-supplier sf0.001 corpus (45 candidate pairs); at sf0.1 the
    // top-40 exact scores span 0.0434–0.0403 over 499,500 pairs, a gap
    // no affordable signature length resolves (OPTIMIZATION_r15.md).
    QuerySpec("g4_jaccard_capped", jaccardCapped _,
      Recall("g4_jaccard", Seq("s1", "s2"), 0.98),
      growth = Some(WorkGated(1.3, 2.5, jaccardCappedWork,
        "work = capped candidate volume sum_{deg<=cap} C(deg,2): stays " +
          "~linear under a Zipf tail BY CONSTRUCTION — the gate " +
          "verifies the curation-mode bound instead of excusing exact-" +
          "jaccard's quadratic hub response"))))
}
