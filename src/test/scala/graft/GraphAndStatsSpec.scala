package graft

import graft.operators.{Graph, TextAnalysis}
import org.apache.spark.sql.functions._

/** Brute-force driver-side twins for the round-10 statistics/retrieval
  * operators: every distributed result is recomputed with plain Scala
  * collections on sf0.001 and compared value-for-value. These are the
  * engine-internal correctness nets; the DuckDB oracle is the
  * cross-engine gate.
  */
class GraphAndStatsSpec extends GraftSuite {

  private def docs: Map[Long, Array[String]] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap

  // ------------------------------------------------------------ BM25

  test("bm25: five ranked rows per query, scores descend, ids tie-break") {
    val got = SparkEntry.queries("ta_bm25")(spark, sf).collect()
    assert(got.length == 25)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(2))
      assert(byRank.map(_.getInt(2)).toSeq == (1 to 5))
      val pairs = byRank.map(r => (r.getDouble(4), r.getLong(3)))
      // (score desc, doc_id asc) must be strictly ordered
      assert(pairs.sliding(2).forall { case Array((s1, d1), (s2, d2)) =>
        s1 > s2 || (s1 == s2 && d1 < d2) })
    }
  }

  test("bm25: distributed top-5 equals the driver-side brute force") {
    val d = docs
    val n = d.size.toDouble
    val avgdl = d.values.map(_.length.toLong).sum.toDouble / d.size
    val dfr = scala.collection.mutable.Map.empty[String, Double]
    d.values.foreach(_.distinct.foreach(t => dfr(t) = dfr.getOrElse(t, 0.0) + 1))
    def score(q: String, w: Array[String]): Double = {
      val tf = w.groupBy(identity).map { case (t, o) => t -> o.length.toDouble }
      q.split(" ").distinct.filter(tf.contains).map { t =>
        val df = dfr(t)
        math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
          (tf(t) * 2.2) / (tf(t) + 1.2 * (0.25 + 0.75 * w.length / avgdl))
      }.sum
    }
    val got = SparkEntry.queries("ta_bm25")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    TextAnalysis.Bm25Queries.foreach { case (qid, qtext) =>
      val want = d.toSeq
        .map { case (id, w) => (BigDecimal(score(qtext, w))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, id) }
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2)
      val have = (1 to 5).map(r => got((qid, r)))
      assert(have == want, s"query $qid: engine=$have brute=$want")
    }
  }

  // ------------------------------------------------------------- PMI

  test("pmi: min-count gate holds and the head matches the brute force") {
    val rows = SparkEntry.queries("ta_pmi")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getLong(2) >= 5L))
    val d = docs.values.toSeq
    val nt = d.map(_.length.toLong).sum.toDouble
    val nb = d.map(w => math.max(w.length - 1, 0).toLong).sum.toDouble
    val uni = d.flatten.groupBy(identity).map { case (t, o) => t -> o.length }
    val bc = d.flatMap(w => w.zip(w.drop(1)))
      .groupBy(identity).map { case (p, o) => p -> o.length }
      .filter(_._2 >= 5)
    def pmi(x: String, y: String, cxy: Long): Double =
      BigDecimal(math.log(cxy.toDouble * nt / uni(x) * nt / uni(y) / nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = bc.toSeq
      .map { case ((x, y), c) => (x, y, c.toLong, pmi(x, y, c.toLong)) }
      .sortBy { case (x, y, _, p) => (-p, x, y) }.take(20)
    val have = rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(have == want)
  }

  // ---------------------------------------------------------- KS test

  test("ks statistic matches an exact driver-side two-sample computation") {
    val r = SparkEntry.queries("a29_ks")(spark, sf).head()
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(x => (x.getString(0), x.getDouble(1)))
    val a = li.filter(_._1 == "A").map(_._2).sorted
    val b = li.filter(_._1 == "N").map(_._2).sorted
    assert(r.getLong(0) == a.length && r.getLong(1) == b.length)
    val grid = (a ++ b).distinct.sorted
    val ks = grid.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length -
        b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(r.getDouble(2) - ks) < 1e-6)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  // --------------------------------------------------------- MAD gate

  test("mad outlier audit matches exact medians and band counts") {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      (s((n - 1) / 2) + s(n / 2)) / 2.0
    }
    def r6d(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val got = SparkEntry.queries("dq_mad")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.keySet == ev.keySet)
    ev.foreach { case (k, vs) =>
      val med = r6d(median(vs))
      val mad = r6d(median(vs.map(v => math.abs(v - med))))
      val out = vs.count(v => math.abs(v - med) > 4.4478 * mad).toLong
      assert(got(k) == ((vs.length.toLong, med, mad, out)), s"group $k")
    }
  }

  // ------------------------------------------------------ rolling corr

  test("rolling correlation: in [-1,1] or null; frame matches brute force") {
    val got = SparkEntry.queries("w22_rolling_corr")(spark, sf)
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber").collect()
    assert(got.length == 6000)
    got.foreach { r =>
      if (!r.isNullAt(3))
        assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
    // Key columns are INT or BIGINT depending on the driver's parquet
    // encoding — widen through Number.
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.get(i).asInstanceOf[Number].longValue
    // Brute-force one supplier's partition with exact decimal sums.
    val sup = asL(got.head, 0)
    val rows = Tables.lineitem(spark, sf)
      .filter(col("l_suppkey") === sup)
      .select(tsUs(col("l_shipdate").cast("timestamp")).as("ship_us"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getLong(0), asL(r, 1),
        asL(r, 2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2, t._3))
    def dec(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = rows.indices.map { i =>
      val fr = rows.slice(math.max(0, i - 19), i + 1)
      val n = BigDecimal(fr.length)
      val xs = fr.map(t => dec(t._4)); val ys = fr.map(t => dec(t._5))
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val syy = ys.map(y => y * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val vx = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val vy = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      val key = (rows(i)._2, rows(i)._3)
      if (vx > 0 && vy > 0)
        key -> Some(BigDecimal(
          (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
            math.sqrt(vx * vy))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else key -> None
    }.toMap
    val have = got.filter(asL(_, 0) == sup).map { r =>
      (asL(r, 1), asL(r, 2)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.toMap
    assert(have.keySet == want.keySet)
    have.foreach { case (k, v) =>
      (v, want(k)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-6, s"row $k")
        case (a, b) => assert(a == b, s"row $k")
      }
    }
  }

  // -------------------------------------------------------------- PSI

  test("psi matches an exact driver-side recomputation") {
    val got = SparkEntry.queries("dq_psi")(spark, sf).orderBy("event_type")
      .collect()
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), tsUs(col("ts")).as("us"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
    val types = ev.map(_._1).distinct.sorted
    assert(got.map(_.getString(0)).toSeq == types.toSeq)
    def r6d(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // quantile_cont at rank 1 + p(n−1), then r6 — the gridQuantiles
    // contract.
    def qc(sorted: IndexedSeq[Double], p: Double): Double = {
      val rf = 1.0 + p * (sorted.length - 1)
      val lo = math.floor(rf).toInt
      val frac = rf - lo
      r6d(sorted(lo - 1) * (1.0 - frac) +
        (if (frac > 0) sorted(lo) * frac else 0.0))
    }
    got.foreach { r =>
      val t = r.getString(0)
      val ref = ev.filter(e => e._1 == t && e._3 <= mid).map(_._2)
      val cur = ev.filter(e => e._1 == t && e._3 > mid).map(_._2)
      assert(r.getLong(1) == ref.length && r.getLong(2) == cur.length)
      val sorted = ref.sorted.toIndexedSeq
      val cuts = (1 to 9).map(i => qc(sorted, i / 10.0))
      def binOf(v: Double) = 1 + cuts.count(v > _)
      def props(vs: Array[Double]) = {
        val c = vs.groupBy(binOf).map { case (b, o) => b -> o.length }
        (1 to 10).map(b =>
          math.max(c.getOrElse(b, 0).toDouble / vs.length, 1e-6))
      }
      val (p, q) = (props(ref), props(cur))
      val psi = p.zip(q).map { case (pi, qi) =>
        BigDecimal((pi - qi) * math.log(pi / qi))
          .setScale(18, BigDecimal.RoundingMode.HALF_UP) }.sum
      assert(r.getDouble(3) == r6d(psi.toDouble), s"$t psi=${r.get(3)}")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  // ------------------------------------------------------- cohort LTV

  test("cohort ltv: cumulative revenue matches a driver-side rollup") {
    val got = SparkEntry.queries("es_cohort_ltv")(spark, sf).collect()
    val wk = 604800000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), tsUs(col("ts")).as("us"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val cUs = ev.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val cohortOf = cUs.map { case (u, c) => u -> c / wk }
    val sizes = cohortOf.groupBy(_._2).map { case (c, m) => c -> m.size }
    def d6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val rev = ev.groupBy(e => (cohortOf(e._1), (e._2 - cUs(e._1)) / wk))
      .map { case (k, rows) =>
        k -> rows.collect { case (_, _, "purchase", Some(v)) => d6(v) }.sum }
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == sizes(key._1).toLong)
      val cum = rev.filter { case ((c, a), _) =>
        c == key._1 && a <= key._2 }.values.sum
      assert(r.getDouble(3) == cum.toDouble, s"cell $key")
      assert(r.getDouble(4) ==
        d6(cum.toDouble / sizes(key._1)).toDouble, s"ltv $key")
    }
    // every cohort's curve is monotone non-decreasing
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val curve = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(curve.sliding(2).forall {
        case Array(a, b) => b >= a; case _ => true })
    }
  }

  // ------------------------------------------------------- plan shapes

  test("plan shapes: bm25 broadcasts + bounded top-k; one-pass corr; pinned psi scan") {
    // BM25: the query vocabulary, df dictionary and query frame are all
    // broadcast (no shuffle join anywhere), and per-query top-k runs
    // through the typed aggregator (ObjectHashAggregate), never a
    // row_number window.
    val bm25 = SparkEntry.queries("ta_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(bm25).length >= 3, bm25.take(1200))
    assert(bm25.contains("ObjectHashAggregate"), bm25.take(1200))
    assert(!bm25.contains("Window"), "top-k must not be a window")
    // Rolling corr: prefix sums + lag differences stack on ONE window
    // shuffle (same partitioning/ordering), and nothing sorts the
    // output globally.
    val corr = SparkEntry.queries("w22_rolling_corr")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(corr).length == 1,
      corr.take(1200))
    assert(!corr.contains("Exchange rangepartitioning"), corr.take(1200))
    // PSI: the filtered events projection is pinned; both halves, the
    // type skeleton and the split bound must read it from cache instead
    // of re-scanning events per consumer.
    val psi = SparkEntry.queries("dq_psi")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(psi).length >= 3, psi.take(1200))
  }

  // --------------------------------------------------------- PageRank

  test("convergence-stopped pagerank reproduces the fixed-iteration " +
      "RANKING") {
    // Rank VALUES keep moving at ~0.85^k per round (power-iteration
    // decay; measured delta sequence at this corpus: 7.7e-2 × 0.85^k),
    // so a converged run's 6-decimal values legitimately differ from
    // the 10-round oracle's — the production-relevant agreement is the
    // node RANKING, which freezes long before the values do.
    def ranking(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1))).toSeq
    val fixed = ranking(SparkEntry.queries("g1_pagerank")(spark, sf).collect())
    val (head, iters) = Graph.pagerankConverged(spark, sf, eps = 1e-3)
    val conv = ranking(head.collect())
    info(s"converged in $iters rounds (fixed mode runs 10)")
    // Decay law: iters ≈ log(eps / rel_delta₁) / log(d) ≈ 40 here —
    // the stop fired from convergence, not the safety cap.
    assert(iters > 10 && iters < 120, s"unexpected round count $iters")
    assert(conv == fixed,
      "converged ranking must match the fixed-iteration ranking")
  }

  test("pagerank top-25 matches a driver-side power iteration") {
    val got = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
    assert(got.length == 25)
    // Brute force on the same bipartite graph.
    val cs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = cs.flatMap { case (c, s0) =>
      Seq((c * 2, s0 * 2 + 1), (s0 * 2 + 1, c * 2)) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length }
    val n = deg.size.toDouble
    var rank = deg.map { case (k, _) => k -> (1.0 / n) }
    // Contributions sum EXACTLY (per-addend quantization to 18 decimals,
    // mirroring the engine's DECIMAL(38,18) accumulator): customers with
    // identical supplier neighborhoods have identical rank by symmetry,
    // and plain double sums would fake-differentiate those exact ties —
    // the top-25 cut then disagrees not because the engine is wrong but
    // because the brute force is sloppier than the engine.
    for (_ <- 1 to 10) {
      val contrib = scala.collection.mutable.Map.empty[Long, BigDecimal]
      edges.foreach { case (src, dst) =>
        contrib(dst) = contrib.getOrElse(dst, BigDecimal(0)) +
          BigDecimal(rank(src) / deg(src))
            .setScale(18, BigDecimal.RoundingMode.HALF_UP) }
      rank = contrib.map { case (k, v) =>
        k -> ((1.0 - 0.85) / n + 0.85 * v.toDouble) }.toMap
    }
    val want = rank.toSeq.sortBy { case (k, r) => (-r, k) }.take(25)
    val have = got.map { r =>
      val key = r.getLong(1)
      val node = if (r.getString(0) == "customer") key * 2 else key * 2 + 1
      (node, r.getDouble(2))
    }.toSeq
    assert(have.map(_._1) == want.map(_._1))
    // The engine emits r6-rounded ranks; the mirrored-exact brute force
    // must agree bit-for-bit after the same rounding.
    have.zip(want).foreach { case ((_, a), (_, b)) =>
      assert(a == BigDecimal(b)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    // Total rank mass over the full graph is 1 (teleport + conserved
    // flow, no dangling nodes).
    assert(math.abs(rank.values.sum - 1.0) < 1e-9)
  }

  // ------------------------------------------- triangles + reachability

  test("triangles: top-15 matches driver-side set enumeration") {
    val got = SparkEntry.queries("g2_triangles")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // Brute force: same 1995 part co-purchase graph, all C(3) checks
    // over the edge SET — ordering-scheme-free, unlike the engine.
    val pp = Tables.lineitem(spark, sf)
      .filter(year(col("l_shipdate")) === 1995)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = pp.groupBy(_._1).values.map(_.map(_._2).sorted)
    val edges = byOrder.flatMap { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j)) }.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).filter(c => c > b).foreach { c =>
        Seq(a, b, c).foreach(p =>
          triPerNode(p) = triPerNode.getOrElse(p, 0L) + 1) } }
    // (a,b) with a<b and common neighbor c>b counts each triangle once
    // with a<b<c.
    val want = triPerNode.toSeq.sortBy { case (p, n) => (-n, p) }.take(15)
    assert(got.toSeq == want, s"got=${got.toSeq}\nwant=$want")
  }

  test("reach: hop profile matches a driver-side BFS") {
    val got = SparkEntry.queries("g3_reach")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val cs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = cs.flatMap { case (c, s0) =>
      Seq((c * 2) -> (s0 * 2 + 1), (s0 * 2 + 1) -> (c * 2)) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val dist = scala.collection.mutable.Map(3L -> 0)
    var frontier = Seq(3L)
    for (d <- 1 to 6) {
      frontier = frontier.flatMap(n =>
        adj.getOrElse(n, Array.empty[Long]).toSeq)
        .distinct.filterNot(n => dist.contains(n))
      frontier.foreach(dist(_) = d)
    }
    val want = dist.values.groupBy(identity)
      .map { case (d, v) => d -> v.size.toLong }
    assert(got == want, s"got=$got want=$want")
    // Symmetric connected purchase graph: everything with an edge is
    // reached within the 6-round horizon at this SF.
    assert(got.values.sum == adj.size)
  }

  test("jaccard: top-20 supplier pairs match driver-side set math") {
    val got = SparkEntry.queries("g4_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val bySup = cs.groupBy(_._2).map { case (s0, v) => s0 -> v.map(_._1).toSet }
    val sups = bySup.keys.toSeq.sorted
    val all = for {
      i <- sups.indices; j <- (i + 1) until sups.length
      inter = (bySup(sups(i)) intersect bySup(sups(j))).size if inter > 0
    } yield (sups(i), sups(j),
      BigDecimal(inter.toDouble /
        (bySup(sups(i)).size + bySup(sups(j)).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val want = all.sortBy { case (a, b, jc) => (-jc, a, b) }.take(20)
    assert(got.toSeq == want)
    got.foreach { case (_, _, jc) => assert(jc > 0.0 && jc <= 1.0) }
  }

  test("capped jaccard: bit-identical to the exact operator when no " +
      "customer exceeds the cap; work contract matches driver-side math") {
    // sf0.001's max customer degree (~10) is far under the 1024 cap, so
    // the capped expansion covers every co-occurrence and the
    // exact-over-capped-expansion scoring must reproduce the exact
    // operator's top-20 VERBATIM (rows, order, and scores) — the
    // property RecallGate's 0.98 floor pins at the official scale.
    val got = SparkEntry.queries("g4_jaccard_capped")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 20)
    val exact = SparkEntry.queries("g4_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == exact.toSeq)
    // Work contract: capped candidate-pair volume only (the r14
    // signature-pass term left with the minhash scoring).
    val cs = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long"), col("l_suppkey").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = cs.groupBy(_._1).view.mapValues(_.size.toLong)
    val wantWork = byCust.values.map(n => n * (n - 1) / 2.0).sum
    assert(math.abs(Graph.jaccardCappedWork(spark, sf) - wantWork) < 0.5)
  }

  test("capped jaccard: a hub customer past the cap contributes no " +
      "candidates and no intersection counts; unions keep full degrees") {
    import spark.implicits._
    // Suppliers 10, 20 co-occur through TWO low-degree customers (1, 2)
    // and once more through hub customer 99, whose degree 3 also links
    // supplier 30. With capDeg = 2 the hub is dropped from expansion:
    //   inter(10,20) = 2 (not 3), d(10) = d(20) = 3 (hub still counts),
    //   J = 2 / (3 + 3 - 2) = 0.5;
    //   pairs (10,30), (20,30) co-occur ONLY through the hub → absent.
    val inc = Seq(
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L),
      (99L, 10L), (99L, 20L), (99L, 30L)).toDF("c", "sup")
    val capped = Graph.jaccardTopK(inc, capDeg = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((10L, 20L, 0.5)))
    // Uncapped on the same incidence: the hub's pairs appear and
    // inter(10,20) counts all three co-customers.
    val exact = Graph.jaccardTopK(inc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(exact.toSet == Set(
      (10L, 20L, 1.0), // identical customer sets {1,2,99}
      (10L, 30L, 0.333333), // 1 / (3 + 1 - 1)
      (20L, 30L, 0.333333)))
  }

  // ------------------------------------------------- statistical audits

  test("chi-square: matches driver-side recomputation from exact counts") {
    val row = SparkEntry.queries("dq_chisq")(spark, sf).head()
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val types = ev.groupBy(_._1)
    val cells = types.map { case (_, rows) =>
      (rows.count(_._2 <= mid).toLong, rows.count(_._2 > mid).toLong) }
    val (tr, tc) = (cells.map(_._1).sum, cells.map(_._2).sum)
    val chi2 = cells.map { case (cr, cc) =>
      val er = ((cr + cc) * tr).toDouble / (tr + tc).toDouble
      val ec = ((cr + cc) * tc).toDouble / (tr + tc).toDouble
      BigDecimal((cr - er) * (cr - er) / er + (cc - ec) * (cc - ec) / ec)
        .setScale(18, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(row.getLong(1) == types.size - 1)
    assert(row.getLong(2) == ev.length)
    assert(row.getDouble(0) ==
      BigDecimal(chi2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("benford: dense 9 digits, shares sum to 1, audit math checks out") {
    val got = SparkEntry.queries("dq_benford")(spark, sf).orderBy("digit")
      .collect()
    assert(got.map(_.getInt(0)).toSeq == (1 to 9))
    val n = got.map(_.getLong(1)).sum
    val cents = Tables.events(spark, sf).select(col("value")).collect()
      .map(r => math.floor(r.getDouble(0) * 100.0).toLong)
      .filter(_ >= 1)
    assert(n == cents.length)
    val want = cents.groupBy(_.toString.head).map { case (k, v) =>
      k.toString.toInt -> v.length.toLong }
    got.foreach { r =>
      assert(r.getLong(1) == want.getOrElse(r.getInt(0), 0L))
      assert(r.getDouble(4) >= 0.0)
    }
    // Observed shares are n_d / n rounded to 6 — must re-sum to ~1.
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-5)
  }

  test("hhi: per-nation concentration matches brute force; bounds hold") {
    val got = SparkEntry.queries("a30_hhi")(spark, sf).orderBy("n_name")
      .collect()
    val rev = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_suppkey"),
        col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byNation = rev.groupBy(_._1)
    assert(got.map(_.getString(0)).toSeq == byNation.keys.toSeq.sorted)
    got.foreach { r =>
      val sups = byNation(r.getString(0)).groupBy(_._2)
        .map { case (_, v) => v.map(x => BigDecimal(x._3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum }
      val tot = sups.sum.toDouble
      val shares = sups.map(_.toDouble / tot)
      val hhi = shares.map(s => BigDecimal(s * s)
        .setScale(18, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      assert(r.getLong(2) == sups.size)
      assert(r.getDouble(1) == BigDecimal(hhi)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      // 1/n ≤ HHI ≤ 1 for any share vector.
      assert(r.getDouble(1) >= 1.0 / sups.size - 1e-9 &&
        r.getDouble(1) <= 1.0 + 1e-9)
      assert(r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("seasonal: residual means per dow match brute force; 7 dense rows") {
    val got = SparkEntry.queries("w23_seasonal")(spark, sf).orderBy("dow")
      .collect()
    assert(got.map(_.getInt(0)).toSeq == (0 to 6))
    val daily = Tables.orders(spark, sf)
      .select(to_date(col("o_orderdate")), col("o_totalprice")).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getDouble(1)))
      .groupBy(_._1).toSeq
      .map { case (day, v) => day -> v.map(x => BigDecimal(x._2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum }
      .sortBy(_._1)
    val resid = daily.indices.map { i =>
      val lo = math.max(0, i - 3)
      val hi = math.min(daily.length - 1, i + 3)
      val frame = (lo to hi).map(daily(_)._2)
      val trend = frame.sum.toDouble / frame.length.toDouble
      (daily(i)._1 % 7, daily(i)._2.toDouble - trend)
    }
    got.foreach { r =>
      val rs = resid.filter(_._1 == r.getInt(0)).map(_._2)
      assert(r.getLong(1) == rs.length)
      val want = rs.map(BigDecimal(_)
        .setScale(18, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        rs.length.toDouble
      assert(r.getDouble(2) == BigDecimal(want)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // Centered detrending kills most of the weekly signal only if there
    // IS no weekly signal; either way residual means stay small relative
    // to daily revenue scale — a sanity bound, not an exactness claim.
    val scale = daily.map(_._2.toDouble).max
    got.foreach(r => assert(math.abs(r.getDouble(2)) < scale))
  }

  // ------------------------------------------------------ PPS sampling

  test("pps sample: exact systematic draw matches driver-side replay") {
    val got = SparkEntry.queries("pp_weighted_sample")(spark, sf)
      .orderBy("cw").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(v: String): String =
      md.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs.map { case (id, toks) => (id, md5hex(id.toString),
      toks.length.toLong) }.toSeq.sortBy(_._2)
    val w = d.map(_._3).sum
    val k = 40L
    var cw = 0L
    val want = d.flatMap { case (id, _, nt) =>
      cw += nt
      if (cw * k / w > (cw - nt) * k / w) Some((id, nt, cw, cw * k / w))
      else None
    }
    assert(got.toSeq == want, s"got=${got.toSeq.take(5)}…")
    // ≤ k docs, one per crossed stratum boundary, strata strictly
    // increasing.
    assert(want.length <= k)
    assert(want.map(_._4) == want.map(_._4).sorted)
    assert(want.map(_._4).distinct.length == want.length)
    // Inclusion probability ∝ weight: every doc heavier than one full
    // stratum W/k is always selected.
    val full = d.filter(_._3 >= (w + k - 1) / k).map(_._1).toSet
    assert(full.subsetOf(want.map(_._1).toSet))
  }
}
