package graft

import java.nio.file.Files

import graft.streaming.{StreamingDedup, UpsertSink}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

class ExtendedOpsSpec extends GraftSuite {

  test("as-of join matches the brute-force maximum at-or-before") {
    val got = SparkEntry.queries("j5_asof_join")(spark, sf)
    // Brute force: for each event, max error ts <= event ts per user.
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"),
        col("event_type"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("tus").as("err_us"))
    val brute = ev.join(errs, Seq("user_id"), "left")
      .groupBy("event_id", "user_id", "tus")
      .agg(max(when(col("err_us") <= col("tus"), col("err_us")))
        .as("last_err_us"))
    val a = got.collect().map(r => (r.getLong(0),
      Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    val b = brute.collect().map(r => (r.getLong(0),
      Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(a.size == b.size)
    assert(a == b)
  }

  test("as-of join is inclusive: an error event matches itself") {
    val got = SparkEntry.queries("j5_asof_join")(spark, sf)
    val errRows = Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("event_id"), tsUs(col("ts")).as("own_tus"))
    // An error's own timestamp is the maximum error ts ≤ its ts, so the
    // inclusive as-of must return exactly it.
    val joined = got.join(errRows, Seq("event_id"))
    assert(joined.filter(col("last_err_us") =!= col("own_tus")).count() == 0)
  }

  test("range join buckets partition all events exactly once") {
    val got = SparkEntry.queries("j6_range_join")(spark, sf)
    val totalBucketed = got.agg(sum(col("n"))).first().getLong(0)
    val totalEvents = Tables.events(spark, sf).count()
    assert(totalBucketed == totalEvents)
  }

  test("pivot columns are the conditional aggregates") {
    val got = SparkEntry.queries("p13_pivot")(spark, sf)
    assert(got.columns.toSeq ==
      Seq("user_id", "click", "error", "purchase", "signup", "view"))
    val manual = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(r6(avg(when(col("event_type") === "click", col("value")))).as("click"))
    val a = got.select("user_id", "click").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val b = manual.collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(a == b)
  }

  test("rank family: percent_rank 0..1, ntile balanced") {
    val got = SparkEntry.queries("w9_rank_family")(spark, sf)
    assert(got.filter(col("pr") < 0 || col("pr") > 1).count() == 0)
    assert(got.filter(col("quartile") < 1 || col("quartile") > 4).count() == 0)
  }

  test("tpch_q3 joins are broadcast: the fact side never shuffles") {
    val plan = SparkEntry.queries("tpch_q3")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "fact-side shuffle join planned")
  }

  test("tpch_q6 filters push down to the parquet scan") {
    val scans = PlanNodes.scansOf(SparkEntry.queries("tpch_q6")(spark, sf),
      "l_discount")
    assert(scans.size == 1)
    val cols = PlanNodes.filterCols(scans.head)
    assert(Set("l_shipdate", "l_discount", "l_quantity").subsetOf(cols),
      s"pushed filters: ${scans.head.dataFilters}")
  }

  test("tpch_q19 pushes each side's disjunction implications to its scan") {
    // The disjunctive-predicate showcase: Catalyst must extract the
    // part-only OR (brand/size branches) for the part scan and the
    // lineitem-only OR (quantity bounds) for the lineitem scan — at
    // 100 TB the join input is pre-pruned even though no single
    // conjunct applies to all rows.
    val df = SparkEntry.queries("tpch_q19")(spark, sf)
    val part = PlanNodes.scansOf(df, "p_brand")
    val li = PlanNodes.scansOf(df, "l_quantity")
    assert(part.size == 1 && li.size == 1)
    assert(PlanNodes.pushedOrs(part.head).contains(Set("p_brand", "p_size")),
      s"part-side OR not pushed: ${part.head.dataFilters}")
    assert(PlanNodes.pushedOrs(li.head).contains(Set("l_quantity")),
      s"lineitem-side OR not pushed: ${li.head.dataFilters}")
  }

  test("tpch_q4/q21 plan EXISTS as semi joins, NOT EXISTS as anti joins") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val q4 = PlanNodes.joins(SparkEntry.queries("tpch_q4")(spark, sf))
      .map(_.joinType)
    assert(q4.contains(LeftSemi), s"q4 EXISTS must be a semi join: $q4")
    // Both correlated probes keep orderkey as the equi half (shuffle
    // key at scale) with the suppkey inequality as a join residual —
    // never a cartesian pair blow-up.
    val q21 = SparkEntry.queries("tpch_q21")(spark, sf)
    val q21Joins = PlanNodes.joins(q21).map(_.joinType)
    assert(q21Joins.contains(LeftSemi) && q21Joins.contains(LeftAnti),
      s"q21 must plan semi + anti joins: $q21Joins")
    assert(!PlanNodes.nodes(q21).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("tpch_q2 min-cost catalog: aggregate collapses before the equality join") {
    // The decorrelated MIN subquery joins catalog-vs-min on
    // (partkey, cost) equality; both sides are post-aggregate frames,
    // so the join input is |catalog|, never |lineitem|.
    val df = SparkEntry.queries("tpch_q2")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 4, s"expected partial+final aggs for catalog and min, got $aggs")
    assert(df.count() > 0)
  }

  test("o6 bucketed join: co-located scans join with exchange-free inputs") {
    val df = SparkEntry.queries("o6_bucket_join")(spark, sf)
    df.collect() // materialize (first call pays the bucketed layout write)
    // Assert the property directionally by traversing the FINAL
    // adaptive plan's nodes — an exact exchange count over the rendered
    // string would break on any Spark change to AQE plan rendering or
    // an added internal exchange elsewhere, without a real regression.
    // The property the layout buys: the sort-merge join's inputs carry
    // NO shuffle (bucketed scans already satisfy the distribution).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smjs = flatten(phys).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "bucketed join must plan a sort-merge join:\n" +
      phys.toString.take(1500))
    smjs.foreach(_.children.foreach { side =>
      val shuffles = flatten(side).filter(n =>
        n.isInstanceOf[ShuffleExchangeLike] ||
          n.isInstanceOf[ShuffleQueryStageExec])
      assert(shuffles.isEmpty,
        s"join input must be exchange-free, found: " +
          shuffles.map(_.nodeName).mkString(", "))
    })
    assert(phys.toString.contains("Bucketed: true"),
      phys.toString.take(1500))
  }

  test("plan hygiene: no cartesian product anywhere in the inventory") {
    // dd_clusters iterates jobs at plan-build time — skip it here (its
    // joins are the same equi-join shape the other dedup ops use).
    val skip = Set("dd_clusters")
    SparkEntry.queries.keys.filterNot(skip).foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("wf_features computes all five window families after ONE hash shuffle") {
    val plan = SparkEntry.queries("wf_features")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashShuffles == 1,
      s"expected 1 window shuffle, got $hashShuffles:\n" + plan.take(1500))
  }

  test("grid order statistics: cumsum plan adapts to the measured grid " +
      "— one window under the bound, range-bucketed two-phase above it") {
    // r15 adaptive contract (OPTIMIZATION_r15.md): rangeCumsum measures
    // the grid and takes the plain one-window cumsum when no key holds
    // more cells than CumsumSingleSortMaxCells (a bounded, spillable
    // sort task at any scale), falling back to the (k, bkt) two-phase
    // split only for corpus-sized grids. This corpus's grids are far
    // under the bound, so a13's plan must NOT carry the bucket
    // machinery (4 avoidable exchanges at bench scale)...
    val plan = SparkEntry.queries("a13_medians")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("bkt"),
      "bucket machinery in an under-bound a13 plan:\n" + plan.take(1500))
    // ...while the two-phase form, called directly, keeps its range-
    // bucketed shape: the local cumsum partitions on (k, bkt), never
    // one task per column.
    import plans.ValueGrid
    val li = Tables.lineitem(spark, sf)
    val counts = li.select(lit("p").as("k"),
        col("l_extendedprice").cast("double").as("v"))
      .groupBy("k", "v").agg(count(lit(1)).as("c"))
    val forced = ValueGrid.twoPhaseCumsum(counts, Seq("k"))
    val fplan = forced.queryExecution.executedPlan.toString
    // The constant literal key folds out of the exchange, so the
    // local cumsum partitions on bkt alone — what matters is that a
    // bucket column, not the bare key, drives the partitioning.
    assert("hashpartitioning\\([^)]*bkt#\\d+".r
      .findFirstIn(fplan).isDefined,
      "forced two-phase cumsum not bucket-partitioned:\n" +
        fplan.take(2000))
    // And the three forms agree on the data (the plain SQL window is
    // the reference semantics): adaptive == one-window == forced.
    val reference = counts.withColumn("cum", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("v")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("v").select("v", "cum").collect().toSeq
    val wRows = rows(reference)
    assert(rows(ValueGrid.rangeCumsum(counts, Seq("k"))) == wRows,
      "adaptive cum != reference cum")
    assert(rows(ValueGrid.oneWindowCumsum(counts, Seq("k"))) == wRows,
      "one-window cum != reference cum")
    assert(rows(forced) == wRows, "forced two-phase cum != reference cum")
  }

  test("ta_bigrams tops out in TakeOrdered, never a global sort") {
    // The bench's most expensive text query: the top-20 must be a
    // distributed TakeOrdered over the map-side-combined counts — an
    // Exchange rangepartitioning here would mean the vocabulary-sized
    // frame is being globally sorted to read 20 rows.
    val plan = SparkEntry.queries("ta_bigrams")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "ta_bigrams lost its TakeOrdered:\n" + plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"),
      "ta_bigrams plans a global sort:\n" + plan.take(1500))
  }

  test("p15_winsorize materializes the value grid once and reuses it") {
    // The grid's consumers prune different columns, so without the
    // rangeCumsum pin each would re-run the scan+collapse (round-10
    // found FIVE lineitem scans in this plan). Pinned, every consumer
    // (sample fraction, sample, local cumsum, span offsets, group
    // total) must read the one materialized grid — the plan string
    // reprints the cached build plan under each reference, so the
    // meaningful count is cache REFERENCES, not FileScan lines.
    val plan = SparkEntry.queries("p15_winsorize")(spark, sf)
      .queryExecution.executedPlan.toString
    val cacheReads = "InMemoryTableScan".r.findAllIn(plan).length
    assert(cacheReads >= 3,
      s"expected >=3 grid cache reads, got $cacheReads:\n" + plan.take(2000))
  }

  test("sim_knn_self tiled path: one shuffle for the winner merge") {
    // The tiled kernel emits one row per (probe, tile) into scratch;
    // the returned frame must be scratch-scan + a single hash-shuffle
    // argmax — any extra exchange means the N²/tiles candidates leaked
    // into the merge.
    val plan = operators.Similarity.knnSelfTiled(spark, sf, 3)
      .queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashShuffles == 1,
      s"expected 1 merge shuffle, got $hashShuffles:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("as-of join is one shuffle: union + window, no join exchange") {
    val plan = SparkEntry.queries("j5_asof_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashShuffles == 1,
      s"expected 1 shuffle, got $hashShuffles:\n" + plan.take(1500))
    assert(!plan.contains("Join"), "as-of should not plan a join operator")
  }

  test("bucketed tables co-locate the equi-join: no shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      Tables.orders(spark, sf).write.bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("b_orders")
      Tables.lineitem(spark, sf).write.bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("b_lineitem")
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"),
        "bucketed join still shuffles:\n" + plan.take(1500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("TopKAggregator: bounded buffer, deterministic ties, split-invariant merge") {
    import graft.functions.{ScoredId, TopKAggregator}
    val a = new TopKAggregator(3)
    val xs = Seq(ScoredId(1.0, 5), ScoredId(2.0, 4), ScoredId(2.0, 6),
      ScoredId(0.5, 1), ScoredId(3.0, 9), ScoredId(2.0, 2))
    val all = xs.foldLeft(a.zero)(a.reduce)
    assert(all == Seq(ScoredId(3.0, 9), ScoredId(2.0, 2), ScoredId(2.0, 4)))
    // Partial aggregation correctness: any split merges to the same top-k.
    for (i <- 0 to xs.length) {
      val (l, r) = xs.splitAt(i)
      assert(a.merge(l.foldLeft(a.zero)(a.reduce),
        r.foldLeft(a.zero)(a.reduce)) == all, s"split at $i")
    }
  }

  test("blocked cosine kernel is bit-identical to the composed plan") {
    // Lower tau than the query's 0.45 so the comparison covers real pairs.
    val kernel = operators.Dedup.blockedCosinePairs(spark, sf, 0.3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val composed = operators.Dedup.cosineNearDupComposed(spark, sf, 0.3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(kernel.nonEmpty, "tau 0.3 should yield pairs at sf0.001")
    assert(kernel == composed)
  }

  test("graft_minhash_sigs is SQL-callable and matches the kernel") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_minhash_sigs(array(CAST(12345678901 AS BIGINT)), 4) AS s")
      .first().getSeq[Long](0)
    assert(r.length == 4)
    // Empty input → null (list_min semantics).
    assert(spark.sql(
      "SELECT graft_minhash_sigs(CAST(array() AS ARRAY<BIGINT>), 4) AS s")
      .first().isNullAt(0))
  }

  test("tiled cosine kernel equals the single-tile kernel exactly") {
    val one = operators.Dedup.blockedCosinePairs(spark, sf, 0.3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val tiled = operators.Dedup.blockedCosinePairsTiled(spark, sf, 0.3, 4)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(one.nonEmpty && tiled == one)
  }

  test("streaming dedup emits each content hash exactly once across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.firstSeen(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    mem.addData(StreamingDedup.Doc(1, "aaa"), StreamingDedup.Doc(2, "bbb"),
      StreamingDedup.Doc(3, "aaa"))
    q.processAllAvailable()
    mem.addData(StreamingDedup.Doc(4, "aaa"), StreamingDedup.Doc(5, "ccc"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("stream_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // Three distinct texts; keep-first doc_id within the first batch seen.
    assert(out.map(_._2).sorted == Seq(1L, 2L, 5L))
    assert(out.map(_._1).distinct.length == 3)
  }

  test("streaming curation matches the batch quality gate + exact dedup") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // Real documents, streamed in two arbitrary halves.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[StreamingDedup.Doc].collect()
    val (h1, h2) = docs.splitAt(docs.length / 2)
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.curatedFirstSeen(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_curate").start()
    mem.addData(h1.toSeq); q.processAllAvailable()
    mem.addData(h2.toSeq); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_curate").collect()
      .map(r => r.getString(0)).toSeq
    // Batch twin: same per-row gate, then distinct content hashes.
    val words = split(col("text"), " ")
    val batch = Tables.documents(spark, sf)
      .withColumn("n_words", size(words))
      .withColumn("ttr",
        size(array_distinct(words)).cast("double") / size(words))
      .filter(col("n_words") >= 30 && col("ttr") >= 0.3)
      .select(md5(col("text")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty && batch.size < docs.length) // gate + dedup bite
    assert(streamed.length == streamed.distinct.length) // exactly-once
    assert(streamed.toSet == batch)
  }

  test("upsert sink merges on key: replaced rows do not duplicate") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_upsert").toString + "/t"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    UpsertSink.upsert(b1, table, "id")
    val b2 = Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    UpsertSink.upsert(b2, table, "id")
    val out = spark.read.parquet(table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("upsert collapses intra-batch duplicate keys to one row") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft_upsert_dup").toString + "/t"
    val b = Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
      .toDF("id", "name", "v")
    UpsertSink.upsert(b, table, "id")
    val out = spark.read.parquet(table)
    assert(out.count() == 2)
    assert(out.groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  // --- upsert crash-replay contract (streaming at-least-once => table
  // exactly-once). foreachBatch delivery is at-least-once: after ANY
  // mid-write crash, the engine replays the same batch. These specs
  // reconstruct each crash window's exact on-disk state and prove the
  // replay converges to the once-applied table.

  private def upsertTripleState(tag: String) = {
    import spark.implicits._
    val table = Files.createTempDirectory(s"graft_upsert_$tag").toString + "/t"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    UpsertSink.upsert(b1, table, "id")
    val b2 = Seq((2L, "b2", 21.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    val expected = Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0))
    (table, b2, expected)
  }

  private def readTriple(table: String) =
    spark.read.parquet(table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("upsert replay after crash between delete and rename heals the table") {
    // The worst window: old snapshot deleted, fully-committed .next not
    // yet renamed — the table is MISSING on disk. The replay must first
    // finish the stranded swap (or the merge would read an empty table
    // and silently drop every pre-existing key), then apply the batch
    // idempotently.
    val (table, b2, expected) = upsertTripleState("crash_mid")
    // Reconstruct the crash state exactly: committed .next (parquet
    // write => _SUCCESS), current dir gone.
    val merged = spark.read.parquet(table)
      .join(b2.select("id"), Seq("id"), "left_anti").unionByName(b2)
    merged.write.parquet(table + ".next")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(table), true))
    UpsertSink.upsert(b2, table, "id") // the engine's replay
    assert(readTriple(table) == expected)
  }

  test("upsert replay ignores a torn (uncommitted) stranded .next") {
    // Crash DURING the .next write: no _SUCCESS, current table intact.
    // The replay must not treat the torn dir as a snapshot — it simply
    // re-merges over the intact table and overwrites the debris.
    val (table, b2, expected) = upsertTripleState("crash_torn")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(table + ".next")
    fs.mkdirs(torn)
    val out = fs.create(new org.apache.hadoop.fs.Path(torn,
      "part-00000-torn.snappy.parquet"))
    out.write(Array.fill[Byte](64)(0x13)) // half-written garbage
    out.close()
    UpsertSink.upsert(b2, table, "id")
    assert(readTriple(table) == expected)
  }

  test("upsert replay after a completed swap is idempotent") {
    // Crash AFTER the rename but before the checkpoint commit: the
    // replay re-applies a batch the table already absorbed.
    val (table, b2, expected) = upsertTripleState("crash_replay")
    UpsertSink.upsert(b2, table, "id")
    UpsertSink.upsert(b2, table, "id")
    assert(readTriple(table) == expected)
  }

  test("approx percentiles stay within the declared rank-error bound") {
    // percentile_approx(acc=100) guarantees rank error <= n/100; verify
    // against the exact percentile on the events value column.
    val df = Tables.events(spark, sf)
    val n = df.count()
    val exactSorted = df.select("value").orderBy("value")
      .collect().map(_.getDouble(0))
    Seq(0.5, 0.9, 0.99).foreach { q =>
      val approx = df.agg(
        expr(s"percentile_approx(value, $q, 100)")).first().getDouble(0)
      val rank = exactSorted.indexWhere(_ >= approx) match {
        case -1 => n - 1
        case i => i.toLong
      }
      val err = math.abs(rank - q * n).toDouble / n
      assert(err <= 0.02, s"q=$q rank error $err exceeds bound")
    }
  }

  test("csv/jsonl round-trips survive newlines, quotes and commas in text") {
    import spark.implicits._
    // The pinned corpus has none of these, so the quoting/multiLine
    // handling would otherwise be dead code until a real corpus hits it.
    // row 5 differs per format: JSONL round-trips an empty string,
    // CSV inherently collapses empty to null (documented on ioCsv) —
    // so CSV gets a null to prove THAT round-trips.
    def data(row5: String) = Seq(
      (1L, "plain words", "en", "s0", 11L),
      (2L, "line one\nline two\nline three", "en", "s0", 27L),
      (3L, "a \"quoted\" phrase, with commas", "es", "s1", 30L),
      (4L, "trailing backslash \\ and \"quote\"\nnewline", "de", "s2", 40L),
      // padded whitespace: the CSV WRITER trims it unless
      // ignoreLeading/TrailingWhiteSpace are disabled on write
      (6L, "  leading and trailing pad \t ", "en", "s4", 29L),
      (5L, row5, "fr", "s3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    for ((q, gnarly) <- Seq(
        "io_csv_roundtrip" -> data(null),
        "io_jsonl_roundtrip" -> data(""),
        // ORC is columnar-typed: no lossy edge at all — empty string,
        // padding and newlines all survive as-is.
        "io_orc_roundtrip" -> data(""))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_gnarly").toString
      gnarly.write.parquet(s"$dir/documents.parquet")
      val back = SparkEntry.queries(q)(spark, dir).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val src = gnarly.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(back == src, q)
    }
  }

  test("jsonl round-trip writes distributed gzip parts and loses nothing") {
    val out = SparkEntry.queries("io_jsonl_roundtrip")(spark, sf)
      .orderBy("doc_id")
    val src = Tables.documents(spark, sf).orderBy("doc_id")
    assert(out.collect().toSeq == src.collect().toSeq)
    // the scratch dir holds gzipped JSONL part files (not a single blob)
    val root = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "_graft_scratch")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("jsonl-")).head
    val parts = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".json.gz"))
    assert(parts.nonEmpty)
  }

  test("line dedup: corpus-wide first occurrence wins, in-doc repeats collapse, emptied docs vanish") {
    import spark.implicits._
    // 10-token segments, hand-planted: segA dups across docs 0→1, segB
    // across 0→2, segC across 1→2 (doc 2 loses everything), segD
    // repeats INSIDE doc 3.
    def seg(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val (a, b, c, dd) = (seg("a"), seg("b"), seg("c"), seg("d"))
    val dir = Files.createTempDirectory("graft_linededup").toString
    Seq((0L, s"$a $b"), (1L, s"$a $c"), (2L, s"$b $c"), (3L, s"$dd $dd"))
      .map { case (id, t) => (id, t, "en", "planted", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("pp_line_dedup")(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (0L, 2L, s"$a $b"),   // hosts both first occurrences
      (1L, 1L, c),          // segA removed, unique tail kept
      (3L, 1L, dd)))        // doc 2 fully deduplicated away; in-doc
                            // repeat keeps exactly one copy
  }

  test("line dedup is idempotent on the real corpus") {
    // Survivor alignment is preserved by construction (every removed
    // non-tail segment is exactly SegTokens long, and the partial tail
    // can only sit at the end), so re-segmenting a deduped text yields
    // exactly the surviving segments — which are globally distinct
    // first occurrences. Hence dedup∘dedup = dedup: the fixpoint
    // property that lets a pipeline re-run the stage safely.
    val docs = Tables.documents(spark, sf)
    val once = graft.operators.CorpusOps.lineDedupDocs(docs)
    val twice = graft.operators.CorpusOps.lineDedupDocs(once)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(rows(once).nonEmpty && rows(twice) == rows(once))
  }

  test("sequence packing: contiguous fill per shard, growth-stable prefix") {
    val rows = SparkEntry.queries("pp_pack")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    // within a shard, each doc starts exactly where the previous ended
    rows.groupBy(_._1).values.foreach { docs =>
      val sorted = docs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, n1, s1, o1), (_, _, _, s2, o2)) =>
          val nextPos = s1 * 2048 + o1 + n1
          assert(s2 * 2048 + o2 == nextPos, "gap or overlap in packing")
        case _ =>
      }
      // first doc of a shard starts at (0, 0)
      assert(sorted.head._4 == 0L && sorted.head._5 == 0L)
    }
    // growth stability: packing only a doc_id prefix of the corpus
    // yields identical rows for those docs (appending never repacks)
    val ids = rows.map(_._2).sorted
    val cut = ids(ids.length / 2)
    val prefix = rows.filter(_._2 <= cut).sortBy(r => (r._1, r._2)).toSeq
    val repacked = operators.CorpusOps.packPrefixForSpec(spark, sf, cut)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(repacked == prefix)
  }

  test("stratified sample keeps per-lang fractions near the configured rates") {
    val docs = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("pp_stratified")(spark, sf)
      .orderBy("doc_id").collect()
    val keptBy = kept.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    val rates = Map("en" -> 0.9, "es" -> 0.7, "de" -> 0.5,
      "fr" -> 0.3, "zh" -> 0.1)
    rates.foreach { case (l, r) =>
      val frac = keptBy.getOrElse(l, 0L).toDouble / docs(l)
      // md5 uniformity: ~100 docs/lang at sf0.001 → generous ±0.15
      assert(math.abs(frac - r) <= 0.15, s"$l kept $frac vs rate $r")
    }
    // deterministic: the kept id set is identical across invocations
    val again = SparkEntry.queries("pp_stratified")(spark, sf)
      .orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("decontamination flags exactly the train docs sharing a 5-gram with the benchmark") {
    // independent re-derivation: same md5 buckets, same canonicalization
    // (lowercase, strip punctuation, collapse whitespace), same
    // word-5-gram definition (split on single space, distinct)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(md5hex(id.toString).take(4), 16) % 100
    def grams(t: String): Set[String] = {
      val n = t.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim
      val w = n.split(" ", -1)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(d => bucket(d._1) >= 90)
      .flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => bucket(d._1) < 80)
      .map { case (id, t) => id -> grams(t).count(bench).toLong }
      .filter(_._2 > 0).sortBy(_._1).toSeq
    val got = SparkEntry.queries("pp_decontaminate")(spark, sf)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == expected, s"got ${got.size} contaminated, expected ${expected.size}")
    assert(expected.nonEmpty, "corpus should contain cross-split leakage")
  }

  test("domain mix: integer gate reproduces exactly; plan is broadcast-only") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    val bySrc = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = docs.filter { case (id, src) =>
      val b = java.lang.Long.parseLong(md5hex(id.toString).slice(8, 12), 16) % 1000
      val permille = (src.drop(3).toLong % 5 + 1) * 10
      b * bySrc(src) < permille * n
    }.sortBy(_._1).toSeq
    val df = SparkEntry.queries("pp_domain_mix")(spark, sf)
    val got = df.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == expected)
    // the aggregates join back as broadcasts; the corpus never shuffles
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), "corpus-side shuffle join planned")
  }

  test("upsert stream drives micro-batches through the merge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsrc").toString
    val table = Files.createTempDirectory("graft_uptab").toString + "/t"
    Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    UpsertSink.runStream(spark, dir, "id LONG, v DOUBLE", table, "id")
    Seq((2L, 7.0), (3L, 8.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    UpsertSink.runStream(spark, dir, "id LONG, v DOUBLE", table, "id")
    val out = spark.read.parquet(table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == Seq((1L, 5.0), (2L, 7.0), (3L, 8.0)))
  }

  test("temperature mix: geometric-mean flattening, rarest lang keeps all") {
    val docs = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = docs.values.min
    val kept = SparkEntry.queries("pp_temperature_mix")(spark, sf)
      .orderBy("doc_id").collect()
    val keptBy = kept.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    docs.foreach { case (l, nL) =>
      // expected kept count at alpha=0.5 is sqrt(n_min * n_l); md5
      // uniformity at ~100 docs/lang → generous ±0.2 relative band
      val expect = math.sqrt(nMin.toDouble * nL)
      val got = keptBy.getOrElse(l, 0L).toDouble
      assert(math.abs(got - expect) <= 0.2 * expect + 3,
        s"$l kept $got vs sqrt(${nMin}*$nL)=$expect")
    }
    // exact int-gate re-derivation (no float sqrt anywhere)
    val ids = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = ids.filter { case (id, l) =>
      val b = java.lang.Long.parseLong(md5hex(id.toString).slice(24, 28), 16) % 1000
      b * b * docs(l) < 1000000L * nMin
    }.map(_._1).sorted.toSeq
    assert(kept.map(_.getLong(0)).toSeq == expected)
    // every doc of the rarest language whose bucket is < 1000 survives
    // (rate 1 by construction: b^2 * n_min < 10^6 * n_min always)
    val rarest = docs.minBy(_._2)._1
    assert(keptBy(rarest) == docs(rarest), "rarest lang must keep everything")
  }

  test("ppl buckets: per-lang tertile cut is ordered, total, and sample-derived") {
    val rows = SparkEntry.queries("pp_ppl_buckets")(spark, sf)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    // total: every document is bucketed exactly once
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val by = rs.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      // bucket ORDER: no tail score exceeds any head score, and the
      // middle band sits between the tail's top and the head's bottom
      for (t <- by.get("tail"); h <- by.get("head"))
        assert(t.max <= h.min, s"$lang tail/head overlap")
      for (t <- by.get("tail"); m <- by.get("middle"))
        assert(t.max <= m.max, s"$lang tail above middle top")
      for (m <- by.get("middle"); h <- by.get("head"))
        assert(m.min <= h.min || by.get("tail").isEmpty,
          s"$lang middle floor above head floor")
      // tertiles: each bucket holds a nontrivial share (the cutoffs come
      // from a 30% sample, so exact thirds are not expected; a bucket
      // collapsing to <10% of the lang would mean a broken cutoff)
      Seq("tail", "middle", "head").foreach { b =>
        val frac = by.get(b).map(_.length).getOrElse(0).toDouble / rs.length
        assert(frac > 0.10 && frac < 0.60, s"$lang $b share $frac")
      }
    }
    // deterministic across invocations (hash sample, order-statistic
    // thresholds — nothing seeded or partition-ordered)
    val again = SparkEntry.queries("pp_ppl_buckets")(spark, sf)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("ppl buckets: the sketch threshold path agrees with the exact cut") {
    // The 100TB form of the tertile cut: when even the hash sample is
    // billions of rows, the per-lang sort behind the order statistics
    // gives way to Spark's mergeable Greenwald-Khanna sketch
    // (approx_percentile — partial+final aggregate, no sort). This pins
    // with a measurement that the swap preserves the bucketing: sketch
    // thresholds over the same sample re-bucket ≥ 97% of docs
    // identically at accuracy 10000.
    val out = SparkEntry.queries("pp_ppl_buckets")(spark, sf)
    val sampleBucket = conv(substring(md5(col("doc_id").cast("string")),
      29, 4), 16, 10).cast("long") % 1000
    val thr = out.filter(sampleBucket < 300)
      .groupBy("lang")
      .agg(percentile_approx(col("score"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("t"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Double](1).head, r.getSeq[Double](1)(1))).toMap
    val rows = out.collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    val agree = rows.count { case (lang, score, bucket) =>
      val (t1, t2) = thr(lang)
      val sketchBucket =
        if (score <= t1) "tail" else if (score <= t2) "middle" else "head"
      sketchBucket == bucket
    }
    assert(agree.toDouble / rows.length >= 0.97,
      s"sketch bucketing agrees on only $agree/${rows.length}")
  }

  test("dq_rules scans lineitem once and reuses no exchange") {
    val df = SparkEntry.queries("dq_rules")(spark, sf)
    assert(PlanNodes.scansOf(df, "l_orderkey").size == 1)
    assert(df.collect().map(_.getString(0)).toSet == Set(
      "discount_in_unit_interval", "orderkey_fk_resolves",
      "price_non_negative", "quantity_positive", "tax_not_null"))
    assert(!PlanNodes.nodes(df).exists(_.isInstanceOf[ReusedExchangeExec]))
  }
}
