package graft

import org.apache.spark.sql.functions._

class ExtensionsAndScaleSpec extends GraftSuite {

  test("native kernels are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS i,
        |  graft_simhash60(array(md5('hello'), md5('world'))) AS s""".stripMargin)
      .first()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getLong(2) != 0L)
  }

  test("pinBounded: LRU pool unpersists beyond its cap; touch refreshes") {
    import spark.implicits._
    def live(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel.useMemory || df.storageLevel.useDisk
    val dfs = (1 to 3).map(i => Seq(i).toDF(s"pb_c$i"))
    ContextCaches.pinBounded(dfs(0), "test-pool", 2)
    ContextCaches.pinBounded(dfs(1), "test-pool", 2)
    assert(live(dfs(0)) && live(dfs(1)))
    // Touch df0 → df1 becomes oldest; the third pin must evict df1.
    ContextCaches.pinBounded(dfs(0), "test-pool", 2)
    ContextCaches.pinBounded(dfs(2), "test-pool", 2)
    assert(live(dfs(0)), "touched entry must survive")
    assert(!live(dfs(1)), "least-recently-pinned entry must be unpersisted")
    assert(live(dfs(2)))
    // Eviction is safe, not fatal: the evicted frame still computes.
    assert(dfs(1).count() == 1)
  }

  test("pinBounded eviction never drops a plan held by another registry") {
    import spark.implicits._
    def live(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel.useMemory || df.storageLevel.useDisk
    // Spark's CacheManager keys storage by canonicalized plan: a rule
    // pool evicting a plan that a LIBRARY pin (or another pool) also
    // holds would silently drop that pin's residency — its contract.
    val shared = Seq(9).toDF("xpool_shared")
    ContextCaches.pin(shared)
    val twin = Seq(9).toDF("xpool_shared") // same canonicalized plan
    ContextCaches.pinBounded(twin, "xp-a", 1)
    ContextCaches.pinBounded(Seq(10).toDF("xpool_a2"), "xp-a", 1) // evict twin
    assert(live(shared),
      "library-pinned plan must survive a pool's LRU eviction")
    // Same protection across two bounded pools.
    val b1 = Seq(11).toDF("xpool_b1")
    ContextCaches.pinBounded(b1, "xp-b", 4)
    ContextCaches.pinBounded(Seq(11).toDF("xpool_b1"), "xp-c", 1)
    ContextCaches.pinBounded(Seq(12).toDF("xpool_c2"), "xp-c", 1) // evict
    assert(live(b1), "plan held by another pool must survive eviction")
  }

  test("pinBounded chaos: concurrent sessions churn pools, library pin serves") {
    // Two session clones hammer DISTINCT ad-hoc plans through bounded
    // pools (the GridOrderStatsRule shape) while a library pin serves —
    // the round-12 LRU's concurrency contract: no exception, no
    // library-pin eviction, pool registries stay bounded.
    import spark.implicits._
    def live(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel.useMemory || df.storageLevel.useDisk
    val lib = Seq(0).toDF("chaos_lib")
    ContextCaches.pin(lib)
    assert(lib.count() == 1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          val s = spark.newSession()
          val sqlc = s.sqlContext
          import sqlc.implicits._
          for (i <- 0 until 25) {
            val df = Seq(t * 1000 + i).toDF(s"chaos_${t}_$i")
            ContextCaches.pinBounded(df, s"chaos-pool-$t", 4)
            if (i % 5 == 0) assert(df.count() == 1)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    // A hung thread would let the timed join return with empty errs —
    // exactly the deadlock class the single pool lock defends against
    // must FAIL here, not leak a zombie mutating shared state into
    // later tests.
    assert(threads.forall(!_.isAlive),
      "churn thread still running after 120s: pinBounded deadlock/hang")
    assert(errs.isEmpty, s"concurrent pinBounded threw: ${errs.peek()}")
    assert(live(lib),
      "library pin must stay resident under concurrent pool churn")
    assert(lib.count() == 1)
  }

  test("catalog ops: existence probe, fallback chain, name patterns") {
    import graft.pipeline.CatalogOps
    Tables.events(spark, sf).createOrReplaceTempView("cat_events")
    assert(CatalogOps.tableExists(spark, "cat_events"))
    assert(!CatalogOps.tableExists(spark, "cat_missing"))
    assert(CatalogOps.readFirstExisting(spark,
      Seq("cat_missing", "cat_events")).isDefined)
    val feat = operators.Windows.features(spark, sf)
    assert(CatalogOps.prefixCols(feat, "mean") ==
      Seq("mean5_value", "mean20_value"))
    assert(CatalogOps.regexCols(feat, "^(mean|z)_?.*value") ==
      Seq("mean5_value", "mean20_value", "z_value"))
    assert(CatalogOps.featureCols(feat, Seq("user_id", "event_id")).size == 5)
  }

  /** Events with a synthetic hot key: every even user_id collapses onto
    * key -1, so ONE key owns ≥50% of all rows — the distribution the
    * salted operators exist for (these specs pin semantic equality on
    * it).
    */
  private def hotKeyed = Tables.events(spark, sf)
    .withColumn("hk",
      when(pmod(col("user_id"), lit(2)) === 0, lit(-1L))
        .otherwise(col("user_id")))

  test("salted aggregation equals direct aggregation on a hot key") {
    val e = hotKeyed
    val hot = e.filter(col("hk") === -1L).count()
    assert(hot * 2 >= e.count(), "test data must put >=50% of rows on one key")
    val direct = e.groupBy("hk")
      .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("cnt"))
      .orderBy("hk").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6), r.getLong(2)))
    val salted = operators.Skew.saltedSum(e, Seq("hk"), "value")
      .orderBy("hk").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6), r.getLong(2)))
    assert(direct.length > 1 && direct.toSeq == salted.toSeq)
  }

  test("salted join equals plain join on a hot key") {
    val e = hotKeyed.select(col("event_id"), col("hk"), col("value"))
    val dim = e.select(col("hk")).distinct()
      .withColumn("key_tag", concat(lit("u"), col("hk")))
    val plain = e.join(dim, "hk").select("event_id", "key_tag")
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val salted = operators.Skew.saltedJoin(e, dim, "hk")
      .select("event_id", "key_tag")
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(plain.toSeq == salted.toSeq)
  }

  test("wf_features: all five feature families share ONE shuffle") {
    val plan = operators.Windows.features(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$plan")
  }

  test("custom as-of operator agrees bit-for-bit with the composed plan") {
    val composed = SparkEntry.queries("j5_asof_join")(spark, sf)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    val custom = SparkEntry.queries("j7_asof_custom")(spark, sf)
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(composed.nonEmpty && custom.toSeq == composed.toSeq)
    // Some events predate every error of their user → real null coverage.
    assert(custom.exists(_._4.isEmpty) && custom.exists(_._4.nonEmpty))
  }

  test("as-of strategy install is safe under concurrent sessions") {
    // Many driver threads race lastMatch on ONE shared session (the repo
    // trains models from thread pools): extraStrategies is per-session
    // state, so the race the synchronized ensureStrategy guards against
    // — a lost check-then-append — only exists when the threads share
    // the session. Every call must plan, and the strategy must end up
    // registered exactly once (a lost update would fail planning; an
    // unsynchronized interleaving could also double-append).
    val shared = spark.newSession()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results =
      try (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          override def call(): String = {
            val ev = Tables.events(shared, sf)
              .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"))
            val errs = Tables.events(shared, sf)
              .filter(col("event_type") === "error")
              .select(col("user_id").as("err_user"),
                tsUs(col("ts")).as("err_tus"))
            barrier.await() // maximize contention on the install
            plans.AsOf.lastMatch(ev, errs,
              "user_id", "tus", "err_user", "err_tus", "last_err_us")
              .queryExecution.executedPlan.toString
          }
        })
      }.map(_.get())
      finally pool.shutdown()
    assert(results.forall(_.contains("AsOfJoin")))
    assert(shared.experimental.extraStrategies
      .count(_ == plans.AsOfJoinStrategy) == 1)
  }

  test("custom as-of plans one exchange per side and no generic Join") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"))
    val errs = Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), tsUs(col("ts")).as("err_tus"))
    val plan = plans.AsOf.lastMatch(ev, errs,
      "user_id", "tus", "err_user", "err_tus", "last_err_us")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"plan was:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"plan was:\n$plan")
  }

  test("custom as-of over bucketed+sorted tables plans ZERO exchanges") {
    // The headline claim of the custom operator: declared requirements
    // let EnsureRequirements ELIDE the exchange and sort when the input
    // is already bucketed on the key and sorted by (key, time) — a
    // composed union-window as-of can never do this.
    try {
      spark.sql("DROP TABLE IF EXISTS b_ev")
      spark.sql("DROP TABLE IF EXISTS b_err")
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("tus"),
          col("event_type"))
      ev.write.bucketBy(4, "user_id").sortBy("user_id", "tus")
        .saveAsTable("b_ev")
      ev.filter(col("event_type") === "error")
        .select(col("user_id").as("err_user"), col("tus").as("err_tus"))
        .write.bucketBy(4, "err_user").sortBy("err_user", "err_tus")
        .saveAsTable("b_err")
      val asof = plans.AsOf.lastMatch(
        spark.table("b_ev").select("event_id", "user_id", "tus"),
        spark.table("b_err"),
        "user_id", "tus", "err_user", "err_tus", "last_err_us")
      val plan = asof.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"),
        "bucketed as-of still shuffles:\n" + plan.take(1500))
      // And it still computes the right thing.
      val expected = SparkEntry.queries("j5_asof_join")(spark, sf).collect()
        .map(r => (r.getLong(0), Option(r.get(3)))).toMap
      val got = asof.collect()
        .map(r => (r.getLong(0), Option(r.get(3)))).toMap
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_ev")
      spark.sql("DROP TABLE IF EXISTS b_err")
    }
  }

  test("runtime bloom filter injects might_contain on the probe side") {
    // The optimizer's runtime-filter machinery (the cluster-scale lever
    // for selective dim joins that are too big or too late to
    // broadcast): with a selective filter on the creation side and a
    // shuffle join, the probe side's scan gains a bloom pre-filter.
    // Thresholds are tuned down because test data is tiny; on a real
    // cluster the defaults (10MB creation / 10GB probe) gate it.
    withSQLConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf)
      val p = Tables.part(spark, sf).filter(col("p_brand") === "Brand#19")
      val plan = li.join(p, li("l_partkey") === p("p_partkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan.take(1200))
    }
  }

  test("parquet schema evolution: mergeSchema unions columns across files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, 30.0, "x"), (4L, 40.0, "y")).toDF("id", "v", "tag")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "tag", "v"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 4)
    // rows written before the column existed read back as null
    assert(rows.take(2).forall(_.isNullAt(merged.columns.indexOf("tag"))))
    assert(rows.drop(2).map(_.getAs[String]("tag")).toSeq == Seq("x", "y"))
  }

  test("z-order layout bounds BOTH key ranges per file; 1-D sort does not") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val base = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // Same data, two layouts: Morton-clustered on (orderkey, partkey)
    // vs range-sorted on orderkey alone.
    operators.Layout.zorderWrite(li, "l_orderkey", "l_partkey", 16, s"$base/z")
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/p")
    // Per-file min/max stats (what footer-level skipping sees).
    def stats(path: String) =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_orderkey").as("olo"), max("l_orderkey").as("ohi"),
          min("l_partkey").as("plo"), max("l_partkey").as("phi"))
        .collect()
    // A file is scanned iff its stats intersect the predicate range.
    // The 1-D sort wins on its own key but cannot skip AT ALL on the
    // other; z-order's claim is the bounded WORST CASE across the
    // dimensions a mixed workload filters on.
    def touchedO(path: String, lo: Long, hi: Long) = stats(path).count(r =>
      r.getLong(1) <= hi && r.getLong(2) >= lo)
    def touchedP(path: String, lo: Long, hi: Long) = stats(path).count(r =>
      r.getLong(3) <= hi && r.getLong(4) >= lo)
    // quarter-range predicate on each dimension alone
    val zO = touchedO(s"$base/z", 0L, 374L); val pO = touchedO(s"$base/p", 0L, 374L)
    val zP = touchedP(s"$base/z", 0L, 49L); val pP = touchedP(s"$base/p", 0L, 49L)
    // on the second dimension the 1-D layout is blind (every file has
    // full-range partkey stats), z-order skips most files
    assert(pP == 16, s"1-D sort should touch all files on partkey, got $pP")
    assert(zP <= 8, s"z-order should skip most files on partkey, touched $zP")
    // worst case over both dimensions is strictly better clustered
    assert(math.max(zO, zP) < math.max(pO, pP),
      s"z worst ${math.max(zO, zP)} vs 1-D worst ${math.max(pO, pP)}")
    // and the layouts are lossless: the same box rows come back
    def boxRows(path: String) = spark.read.parquet(path)
      .filter(col("l_orderkey").between(0, 374) &&
        col("l_partkey").between(0, 49))
      .orderBy("l_orderkey", "l_partkey", "l_quantity").collect().toSeq
    assert(boxRows(s"$base/z") == boxRows(s"$base/p"))
  }

  test("dataset-partitioned warehouse prunes partitions, statically and via DPP") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_dpp").toString + "/t"
    Tables.events(spark, sf)
      .withColumn("dataset",
        concat(lit("FD"), (col("user_id") % 4).cast("string")))
      .write.partitionBy("dataset").parquet(wh)
    // Static pruning: a literal dataset filter reaches PartitionFilters.
    val static = spark.read.parquet(wh).filter(col("dataset") === "FD1")
    val sPlan = static.queryExecution.executedPlan.toString
    assert(sPlan.contains("PartitionFilters") && sPlan.contains("FD1"),
      sPlan.take(1200))
    // Dynamic partition pruning: joining a filtered dim on the partition
    // column inserts a runtime pruning subquery on the fact scan. The
    // dim must be file-backed — a local relation folds the filter away
    // and leaves no selective predicate for DPP to latch onto.
    val dimPath = wh + "_dim"
    Seq(("FD1", "keep"), ("FD9", "ghost")).toDF("dataset", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val j = spark.read.parquet(wh).join(dim, "dataset")
    val dPlan = j.queryExecution.executedPlan.toString
    assert(dPlan.contains("dynamicpruning"), dPlan.take(1500))
    assert(j.select("dataset").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("FD1"))
  }

  test("dedup/minhash joins read the persisted signature table") {
    val plan = SparkEntry.queries("dd_minhash_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    // Both join sides must feed off the materialized band table
    // (doc_id, band digest) instead of recomputing the md5 pipeline.
    assert(plan.contains("InMemoryTableScan"), s"plan was:\n$plan")
  }

  test("persist hygiene: repeated query runs never grow the cache") {
    import spark.implicits._
    def run(q: String): Unit = SparkEntry.queries(q)(spark, sf)
      .queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    // queries with internal persist() sites — CacheManager must dedup
    // their plans across invocations, so the second sweep adds nothing
    val qs = Seq("tpch_q17", "sim_knn_self", "dd_ngram_jaccard",
      "dd_span_coverage", "ta_heavy_hitters", "ta_fingerprint")
    qs.foreach(run)
    val before = spark.sparkContext.getPersistentRDDs.size
    qs.foreach(run)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before, s"cache grew across repeated runs: $before -> $after")
    // a NOVEL ad-hoc token stream releases its cache entry before return
    // (bounded-output collect + unpersist inside heavyHittersOf)
    val base = spark.sparkContext.getPersistentRDDs.size
    val got = operators.TextAnalysis
      .heavyHittersOf((1 to 500).map(i => s"t${i % 5}").toDS(), 8).collect()
    assert(got.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == base,
      "ad-hoc heavy-hitter call left a pinned cache entry")
  }
}
