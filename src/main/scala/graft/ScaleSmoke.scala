package graft

import org.apache.spark.sql.functions._

/** Scale-smoke utility: replicates the events table `factor`× (unique
  * synthetic user/event ids, written once to a scratch dir) and times the
  * flagship plans on it. This is a dev/scale experiment, not part of the
  * driver contract — it answers "does the plan shape survive 100× data"
  * with measurements instead of claims.
  *
  * Usage: runMain graft.ScaleSmoke [factor] [srcSfDir] [scratchDir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse("/tmp/graft_scale_events")
    val spark = Harness.session()

    val dir = new java.io.File(scratch)
    if (!dir.exists()) {
      val e = Tables.events(spark, src)
      e.crossJoin(spark.range(0, factor).select(col("id").as("rep")))
        .select(
          (col("event_id") + col("rep") * 1000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * 1000000L).as("user_id"),
          col("event_type"), col("value"))
        .repartition(Harness.cpus * 2)
        .write.mode("overwrite").parquet(scratch)
    }
    val big = spark.read.parquet(scratch)
    val rows = big.count()

    def full(df: org.apache.spark.sql.DataFrame): Long = {
      Harness.drain(df)
      0L
    }
    // GRAFT_SMOKE_ONLY=substr[,substr...] restricts the run to stages
    // whose name contains any given substring (dev iteration / variance
    // probes — a single stage re-measured without paying for the other
    // 38). Skipped stages report -1 and are dropped from the JSON.
    val only: Seq[String] = sys.env.get("GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    def want(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    def time(name: String)(f: => Long): (String, Double, Long) = {
      if (!want(name)) return (name, -1.0, -1L)
      val t0 = System.nanoTime()
      val n = f
      (name, (System.nanoTime() - t0) / 1e9, n)
    }

    import org.apache.spark.sql.expressions.Window
    // The continuous-grid median frame: deterministic sub-resolution
    // jitter makes (almost) every value distinct, so the distinct-value
    // grid tracks the row count — the shape exactMedians' range
    // partitioning exists for. NaN-guarded so GRAFT_SMOKE_ONLY can run
    // either grid stage alone.
    def gridFrame(df: org.apache.spark.sql.DataFrame) =
      df.select((col("value") +
        (col("event_id") % 1000000L) * lit(1e-9)).as("x"))
    var gridMedian: Double = Double.NaN
    val wp = Window.partitionBy("user_id")
    val wo = wp.orderBy(col("ts"), col("event_id"))
    val results = Seq(
      time("wf_features") {
        full(big.select(col("user_id"), col("event_id"),
          (max(col("value")).over(wp) - col("value")).as("rul"),
          avg(col("value")).over(wo.rowsBetween(-4, 0)).as("mean5"),
          avg(col("value")).over(wo.rowsBetween(-19, 0)).as("mean20"),
          (col("value") - lag(col("value"), 1).over(wo)).as("d"),
          (col("value") - avg(col("value")).over(wp)).as("dev")))
      },
      time("grouped_agg") {
        full(big.groupBy("user_id", "event_type")
          .agg(count(lit(1)), sum(col("value")), max(col("value"))))
      },
      time("topk") { full(big.orderBy(col("value").desc).limit(100)) },
      time("distinct_users") {
        big.agg(countDistinct(col("user_id"))).first().getLong(0)
      },
      // Round-2 ops at scale: merge-based as-of join (one shuffle) and
      // native session_window (agg-operator session state).
      time("asof_join") {
        // The SAME plan the j5_asof_join query ships, on the scaled table.
        full(operators.TemporalJoins.asofLastError(
          big.select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tus"), col("event_type"))))
      },
      time("session_window") {
        full(big.groupBy(col("user_id"),
            session_window(col("ts"), "24 hours"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv")))
      },
      // Round-4: gap-fill at 100× — the grid is users × days (at
      // factor=100 that is ~1.5M users, so the grid itself is tens of
      // millions of rows) and the fill window is one pass per user.
      time("gap_fill") {
        full(operators.TemporalJoins.gapFill(big.select(col("user_id"),
          to_date(col("ts")).as("day"), col("value"))))
      },
      // Round-5: rolling median at 100× — same bounded 5-row frame as
      // the w16 query; per-row state is 5 values regardless of scale.
      time("rolling_median") {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")), col("event_id"))
          .rowsBetween(-4, 0)
        val arr = sort_array(collect_list(col("value")).over(w))
        val n = size(arr)
        val med = when(n === 0, lit(null).cast("double"))
          .when(n % 2 === 1, element_at(arr, ((n + 1) / 2).cast("int")))
          .otherwise((element_at(arr, (n / 2).cast("int")) +
            element_at(arr, (n / 2 + 1).cast("int"))) / 2.0)
        full(big.select(col("event_id"), round(med, 6).as("med5")))
      },
      // Round-9: exact median when the value grid IS the data — a
      // per-row jitter makes every value distinct, the continuous-
      // measure worst case the range-partitioned prefix sum exists
      // for. The pair measures the partitioned form against the
      // one-window form ON THE SAME FRAME and requires bit-equal
      // answers: the honest statement of what the three extra
      // exchanges buy (the single-window form funnels the whole grid
      // into ONE sort task — its wall time here is the straggler the
      // partitioned shape deletes at scale).
      time("grid_median_partitioned") {
        gridMedian = operators.Relational
          .exactMedians(gridFrame(big), Seq("x" -> "med"))
          .first().getDouble(0)
        0L
      },
      time("grid_median_one_window") {
        val b = operators.Relational
          .exactMedians(gridFrame(big), Seq("x" -> "med"), buckets = 1)
          .first().getDouble(0)
        require(gridMedian.isNaN || b == gridMedian,
          s"grid median forms disagree: one-window $b vs " +
            s"partitioned $gridMedian")
        0L
      })
    // Skew stress: collapse every even user_id onto ONE key, putting
    // ≥50% of all rows on it, then join against a dim too large to
    // broadcast (one row per distinct key). Three measurements tell the
    // whole story the Skew scaladoc claims:
    //   skew_join_aqe     — plain shuffle join, AQE skew split ON
    //                       (default): the runtime fix.
    //   skew_join_noaqe   — same plan with skew splitting OFF: the
    //                       single-straggler baseline, i.e. what happens
    //                       in the shapes AQE cannot rewrite.
    //   skew_join_salted  — Skew.saltedJoin under the same OFF setting:
    //                       the explicit fallback must recover the AQE
    //                       time despite replicating the dim `buckets`×.
    // Result equality of all three is spec-pinned (ExtensionsAndScale);
    // here only wall time matters. The salted-agg pair shows why
    // saltedSum is a FALLBACK: map-side partial aggregation already
    // collapses a hot sum/count key per task, so plain≈salted for
    // decomposable aggregates even at 50% skew.
    val skewed = big.withColumn("hk",
      when(pmod(col("user_id"), lit(2)) === 0, lit(-1L))
        .otherwise(col("user_id")))
      .select(col("event_id"), col("hk"), col("value"))
    val skewDim = skewed.select(col("hk")).distinct()
      .withColumn("key_tag", md5(col("hk").cast("string")))
    def withSkewSplit[T](on: Boolean)(f: => T): T = {
      val k = "spark.sql.adaptive.skewJoin.enabled"
      val prev = spark.conf.get(k)
      spark.conf.set(k, on.toString)
      try f finally spark.conf.set(k, prev)
    }
    val skewResults = Seq(
      // hint("merge") pins the sort-merge shape the experiment is about:
      // at 100 TB this dim does not broadcast, and letting AQE demote
      // the small local stand-in to a broadcast join would measure
      // nothing.
      time("skew_join_aqe") {
        withSkewSplit(on = true) {
          full(skewed.join(skewDim.hint("merge"), "hk"))
        }
      },
      time("skew_join_noaqe") {
        withSkewSplit(on = false) {
          full(skewed.join(skewDim.hint("merge"), "hk"))
        }
      },
      time("skew_join_salted") {
        withSkewSplit(on = false) {
          full(operators.Skew.saltedJoin(skewed, skewDim, "hk"))
        }
      },
      time("skew_agg_plain") {
        full(skewed.groupBy("hk")
          .agg(sum(col("value")).as("s"), count(lit(1)).as("c")))
      },
      time("skew_agg_salted") {
        full(operators.Skew.saltedSum(skewed, Seq("hk"), "value"))
      })

    // Dedup stress: replicate documents `docsFactor`× (default 10) with
    // unique ids — every text becomes a duplicate cluster of that size,
    // the worst (pair-heavy) shape a dup-laden corpus produces; the
    // verified-pair count grows QUADRATICALLY in the clone count by
    // construction, so cross-factor wall-clock comparisons must be read
    // against the output size, not the row count. Uses a scratch table
    // dir keyed by the factor; the dedup operators read it through the
    // same code paths as the sf tables. GRAFT_SMOKE_DOCS_FACTOR turns
    // the knob for growth-curve probes (stage names keep the _10x
    // suffix — the factor is recorded in the JSON line).
    val docsFactor = sys.env.get("GRAFT_SMOKE_DOCS_FACTOR")
      .map { raw =>
        val v = raw.trim.toIntOption.getOrElse(
          sys.error(s"GRAFT_SMOKE_DOCS_FACTOR must be an integer, got '$raw'"))
        require(v >= 1, s"GRAFT_SMOKE_DOCS_FACTOR must be >= 1, got $v")
        v
      }.getOrElse(10)
    val docScratch =
      if (docsFactor == 10) s"$scratch-docs"
      else s"$scratch-docs$docsFactor"
    if (!new java.io.File(docScratch).exists()) {
      val docs = Tables.documents(spark, src)
      val n = docs.count()
      // The cloned-id scheme doc_id + rep·n·factor is collision-free
      // only while every source doc_id sits below n·factor — true for
      // the dense [0, n) ids the generator writes, asserted here so a
      // future sparse-id table fails loudly instead of silently
      // merging clones into one id.
      val maxId = docs.agg(max(col("doc_id"))).first().getLong(0)
      require(maxId < n * docsFactor,
        s"doc_id $maxId would collide under factor $docsFactor " +
          s"(ids must stay below n*factor = ${n * docsFactor})")
      docs.crossJoin(spark.range(0, docsFactor).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * n * docsFactor).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(Harness.cpus)
        .write.mode("overwrite").parquet(s"$docScratch/documents.parquet")
    }
    val dedupResults = Seq(
      time("dd_minhash_10x") {
        SparkEntry.queries("dd_minhash_lsh")(spark, docScratch).count()
      },
      time("dd_simhash_pairs_10x") {
        SparkEntry.queries("dd_simhash_pairs")(spark, docScratch).count()
      },
      time("dd_jaccard_10x") {
        SparkEntry.queries("dd_ngram_jaccard")(spark, docScratch).count()
      },
      time("ta_bigrams_10x") {
        SparkEntry.queries("ta_bigrams")(spark, docScratch).count()
      },
      // Round-4 ops on the same dup-heavy corpus: passage coverage
      // (every doc fully duplicated → the dictionary join carries the
      // worst case) and incremental screening (nearly every incoming
      // doc is a true dup → the bloom prefilter passes ~everything and
      // the verify join sees its maximum input).
      time("dd_span_coverage_10x") {
        SparkEntry.queries("dd_span_coverage")(spark, docScratch).count()
      },
      time("dd_incremental_10x") {
        SparkEntry.queries("dd_incremental")(spark, docScratch).count()
      },
      // Containment on the clone-heavy corpus is its worst case twice
      // over: every doc is fully contained in its 9 clones (output is
      // pair-dense, 10·9 ordered pairs per original text), and clone
      // prefixes collide exactly (the probe-prefix join's hottest
      // legitimate key shape).
      time("dd_containment_10x") {
        SparkEntry.queries("dd_containment")(spark, docScratch).count()
      },
      // Line-level dedup on the clone corpus is its hot-key worst case
      // BY CONSTRUCTION: every segment occurs docsFactor× (the clones)
      // and on top a planted boilerplate segment is prepended to EVERY
      // document, so one segment key carries n_docs occurrences — the
      // shape that would straggle a window-over-segment plan. The
      // shipped plan's first-occurrence min combines map-side, so the
      // hot key reaches the shuffle as one row per map partition; the
      // stage asserts the planted segment survives exactly once
      // (first-occurrence semantics under the hot key stay correct).
      time("pp_line_dedup_hot_10x") {
        val boiler = (1 to 10).map(i => s"boilertok$i").mkString(" ")
        val planted = spark.read
          .parquet(s"$docScratch/documents.parquet")
          .withColumn("text", concat(lit(boiler + " "), col("text")))
        val scratch2 = s"$docScratch-boiler"
        planted.write.mode("overwrite")
          .parquet(s"$scratch2/documents.parquet")
        val out = SparkEntry.queries("pp_line_dedup")(spark, scratch2)
        val boilerKept = out
          .filter(col("text_deduped").contains("boilertok1")).count()
        require(boilerKept == 1,
          s"planted boilerplate segment survived $boilerKept times, " +
            "expected exactly 1 (corpus-wide first occurrence)")
        full(out)
      },
      // Bounded-state sketch and shard-parallel packing on the same
      // corpus: the sketch shuffles k-entry maps regardless of scale;
      // packing windows run one pass per md5 shard.
      time("ta_heavy_hitters_10x") {
        SparkEntry.queries("ta_heavy_hitters")(spark, docScratch).count()
      },
      time("pp_pack_10x") {
        SparkEntry.queries("pp_pack")(spark, docScratch).count()
      },
      // Round-5: the cluster pipeline's tail on the same worst-case
      // corpus — every text is a 10-doc clique, so label propagation
      // and the per-cluster keep-best window see their densest input.
      // THREE consecutive captures (round-7 verdict: 30.2s → 39-46s
      // across identical-code rounds needed a variance probe): c1 is
      // cold (candidate gen + label prop), c2/c3 reuse the pinned edge
      // list so they isolate the iterative label-prop stage; the [cc]
      // sysprop prints per-iteration wall + convergence counts for
      // stage attribution.
      time("pp_cluster_split_10x") {
        sys.props("graft.cc.debug") = "1"
        try SparkEntry.queries("pp_cluster_split")(spark, docScratch).count()
        finally sys.props.remove("graft.cc.debug")
      },
      time("pp_cluster_split_10x_c2") {
        sys.props("graft.cc.debug") = "1"
        try SparkEntry.queries("pp_cluster_split")(spark, docScratch).count()
        finally sys.props.remove("graft.cc.debug")
      },
      time("pp_cluster_split_10x_c3") {
        sys.props("graft.cc.debug") = "1"
        try SparkEntry.queries("pp_cluster_split")(spark, docScratch).count()
        finally sys.props.remove("graft.cc.debug")
      },
      time("dd_keep_best_10x") {
        SparkEntry.queries("dd_keep_best")(spark, docScratch).count()
      },
      // Decontamination on the dup-heavy corpus is its worst case: every
      // clique spans the md5 split boundary with high probability, so
      // nearly every training doc shares 5-grams with the benchmark
      // side — the broadcast gram set and the per-doc count agg both see
      // their maximum load.
      time("pp_decontaminate_10x") {
        SparkEntry.queries("pp_decontaminate")(spark, docScratch).count()
      },
      time("pp_domain_mix_10x") {
        SparkEntry.queries("pp_domain_mix")(spark, docScratch).count()
      },
      // Round-6 perceptual media dedup on the same 10x corpus: 500k
      // BMP decodes → banded dHash pairs, and the WAV energy-envelope
      // analog — both are decode-bound scans + bounded band joins.
      time("mm_phash_dedup_10x") {
        SparkEntry.queries("mm_phash_dedup")(spark, docScratch).count()
      },
      time("mm_audio_dedup_10x") {
        SparkEntry.queries("mm_audio_dedup")(spark, docScratch).count()
      })

    // Boilerplate skew stress: a 100k-doc source whose every document
    // shares a 21-word footer — 20 bigram shingles each with df =
    // n_docs, the TRUE-boilerplate shape at corpus scale. The shipped
    // aggregate-join form partial-counts a hot shingle in every task;
    // the retired window form routes all 100k occurrences of each hot
    // shingle into ONE window partition — 20 straggler tasks carrying
    // 2M of the corpus's 3.1M exploded rows. The wall-time delta IS the
    // straggler the rewrite removes (same pattern as the SemDeDup
    // _1key twin above). Both forms must agree row-for-row — asserted
    // in TextAndMultimodalSpec; here only time matters.
    val hotScratch = s"$scratch-hotshingle"
    if (!new java.io.File(hotScratch).exists()) {
      val footer = (0 to 20).map(i => s"boiler$i").mkString(" ")
      spark.range(0, 100000L).selectExpr(
        "id AS doc_id",
        s"""concat('$footer ', concat_ws(' ',
           |  transform(sequence(0, 9), j ->
           |    concat('u', CAST(id AS STRING), 'x', CAST(j AS STRING)))))
           |  AS text""".stripMargin,
        "'en' AS lang", "'webhot' AS source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(Harness.cpus)
        .write.mode("overwrite").parquet(s"$hotScratch/documents.parquet")
    }
    val hotResults = Seq(
      time("ta_boilerplate_hot") {
        SparkEntry.queries("ta_boilerplate")(spark, hotScratch).count()
      },
      time("ta_boilerplate_hot_window") {
        operators.TextAnalysis.boilerplateWindowed(spark, hotScratch).count()
      })

    // Tiled exact 1-NN at 10× the vector corpus (20k vectors → 400M
    // scored pairs): the per-tile kernel emits one row per (probe,
    // tile) and the merge shuffles one row per vector — the plan shape
    // that replaces the whole-corpus broadcast past 200k vectors.
    // Growth is ScaleData.grownVectors' natural manifold mixtures, not
    // clone replication — see its doc for why recall demands that.
    val vecScratch = s"$scratch-vecs"
    if (!new java.io.File(vecScratch).exists()) {
      ScaleData.grownVectors(spark, src, 10)
        .repartition(Harness.cpus)
        .write.mode("overwrite").parquet(s"$vecScratch/embeddings.parquet")
    }
    val knnResults = Seq(
      time("knn_tiled_10x") {
        operators.Similarity.knnSelfTiled(spark, vecScratch, 4).count()
      },
      // SemDeDup at 10× vectors: centroid training + within-cell pairs.
      // The within-cell candidate volume grows as (N/cells)² per cell —
      // the number to watch is time relative to knn_tiled's full N².
      time("dd_semantic_10x") {
        SparkEntry.queries("dd_semantic")(spark, vecScratch).count()
      })

    // SemDeDup skew stress: a corpus whose MAJORITY sits in one k-means
    // cell — the skewed-cell shape real embedding corpora produce and
    // the reason the pair join blocks oversized cells. 8k vectors, 54%
    // in one tight cluster (ids < 100 scatter so the centroid seeds are
    // scattered and the whole cluster lands behind ONE seed): the hot
    // cell carries a C(4345,2) ≈ 9.4M-pair quadratic stage, the worst
    // case by construction since every pair also clears tau. The _1key
    // twin runs the SAME corpus with blocking disabled (block =
    // MaxValue → every cell one shuffle key): its hot cell lands on one
    // task, and the delta vs the blocked run is the straggler the cap
    // removes.
    val vecSkewScratch = s"$scratch-vecskew"
    if (!new java.io.File(vecSkewScratch).exists()) {
      val nSkew = 8000L
      val hotExpr = "sin(3.33*j) + 0.02*sin(12.9898*id + 78.233*j)"
      val scatExpr = "sin(12.9898*id + 78.233*j)"
      spark.range(0, nSkew).selectExpr(
        "id AS vec_id",
        s"""cast(transform(sequence(0, 63), j ->
           |  CASE WHEN id >= 100 AND id % 20 < 11 THEN $hotExpr
           |       ELSE $scatExpr END)
           |  AS array<float>) AS embedding""".stripMargin,
        "cast(0 AS int) AS label")
        .repartition(Harness.cpus)
        .write.mode("overwrite").parquet(s"$vecSkewScratch/embeddings.parquet")
    }
    val skewVecResults = Seq(
      time("dd_semantic_skew") {
        SparkEntry.queries("dd_semantic")(spark, vecSkewScratch).count()
      },
      time("dd_semantic_skew_1key") {
        operators.Similarity.semanticNearDupBlocked(spark, vecSkewScratch,
          operators.Similarity.semCells(spark, vecSkewScratch),
          operators.Similarity.SemAssign,
          operators.Dedup.CosTau, Int.MaxValue).count()
      })

    // ANN quality at 10× corpus growth: the PQ shortlist lesson (a
    // fixed-size shortlist silently decayed recall as the corpus grew)
    // generalizes to every index knob, so recall@10 vs the exact scan
    // is measured ON the grown corpus, not just at sf0.1 — the curve
    // the bench artifact cannot see. Exact baselines are cheap here
    // (10 query vectors × 20k corpus; the cosine pair pass is tiled).
    def pairSet(name: String, ka: String, kb: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, vecScratch).select(ka, kb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    def timedPairs(name: String, ka: String = "query_id",
        kb: String = "neighbor_id"): Set[(Long, Long)] = {
      val t0 = System.nanoTime()
      val p = pairSet(name, ka, kb)
      // _pairs suffix: dd_semantic_10x (the timed count stage above)
      // must not collide with this recall-pass timing in the JSON.
      annTimes += ((s"${name}_pairs_10x",
        (System.nanoTime() - t0) / 1e9, p.size.toLong))
      p
    }
    // Selectable both by the block name AND by the stage names it
    // emits (ann_topk_*_pairs_10x, dd_*_pairs_10x) — a dev re-running a
    // stage by the name recorded in a previous artifact must not get a
    // silent no-op.
    val recallWanted = Seq("ann_recall_10x",
      "ann_topk_exact_pairs_10x", "ann_topk_lsh_pairs_10x",
      "ann_topk_ivf_pairs_10x", "ann_topk_pq_pairs_10x",
      "ann_topk_ivfpq_pairs_10x", "dd_cosine_neardup_pairs_10x",
      "dd_semantic_pairs_10x").exists(want)
    val recall10x = if (!recallWanted) Seq.empty else {
      val exactAnn = timedPairs("ann_topk_exact")
      Seq("ann_topk_lsh", "ann_topk_ivf", "ann_topk_pq",
        "ann_topk_ivfpq")
        .map(q => q -> timedPairs(q).count(exactAnn.contains).toDouble /
          exactAnn.size) ++ {
        val exactSem = timedPairs("dd_cosine_neardup", "id_a", "id_b")
        Seq("dd_semantic" -> timedPairs("dd_semantic", "id_a", "id_b")
          .count(exactSem.contains).toDouble / exactSem.size)
      }
    }

    // Composed corpus pipeline at 10×: the chained batch flow (ingest →
    // curate → dedup → linededup → split → screen → pack) on the
    // dup-heavy corpus,
    // with per-stage wall times — the stages are smoked individually
    // above; this is the end-to-end number including the screen's
    // persist window and every inter-stage parquet hop. The streaming
    // twin then runs the same corpus as file drops (8 per trigger).
    val jsonlScratch = s"$docScratch-jsonl"
    if (!new java.io.File(jsonlScratch).exists()) {
      spark.read.parquet(s"$docScratch/documents.parquet")
        .write.mode("overwrite").option("compression", "gzip")
        .json(jsonlScratch)
    }
    val stageTimes = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timedStages(stages: Seq[pipeline.PipelineRunner.Stage]) =
      stages.map { st =>
        st.copy(run = () => {
          val t0 = System.nanoTime()
          st.run()
          stageTimes += st.name -> (System.nanoTime() - t0) / 1e9
        })
      }
    val pipeWh = s"$scratch-pipewh"
    val pipeTotal = time("pipe_batch_total") {
      val report = pipeline.PipelineRunner.run(timedStages(
        pipeline.CorpusPipeline.ingestStages(spark, jsonlScratch, pipeWh) ++
          pipeline.CorpusPipeline.downstreamStages(spark, pipeWh)))
      require(report.succeeded, report.toString)
      spark.read.parquet(s"$pipeWh/packed/sequences.parquet").count()
    }
    val pipeStream = time("pipe_stream_total") {
      val report = pipeline.CorpusPipeline.runStreamingTwin(spark,
        s"$docScratch/documents.parquet", s"$scratch-pipewh-stream",
        maxFilesPerTrigger = 8)
      require(report.succeeded, report.toString)
      0L
    }
    val pipeResults = stageTimes.toSeq.map { case (n, t) =>
      (s"pipe_$n", t, 0L) } :+ pipeTotal :+ pipeStream

    // Streaming dedup throughput at the same 10x dup-heavy scale: the
    // replicated documents dir becomes a file-source stream (8 files per
    // trigger → several micro-batches), state = one flag per distinct
    // digest. Measures end-to-end micro-batch throughput including state
    // store maintenance.
    val streamResults = Seq(
      time("stream_dedup_10x") {
        streaming.StreamingDedup.runToMemory(spark,
          s"$docScratch/documents.parquet", "scale_stream_dedup",
          maxFilesPerTrigger = 8)
        spark.table("scale_stream_dedup").count()
      })

    val qs = (results ++ skewResults ++ dedupResults ++ hotResults ++
      knnResults ++ skewVecResults ++ annTimes.toSeq ++ pipeResults ++
      streamResults)
      .filter { case (_, v, _) => v >= 0 }
      .map { case (k, v, _) => k -> v.toString }
    val pairCounts = dedupResults.filter { case (_, v, _) => v >= 0 }
      .map { case (k, _, n) => k -> n.toString }
    println(Harness.obj(Seq("metric" -> Harness.str("scale_smoke"),
      "rows" -> rows.toString, "factor" -> factor.toString,
      "docs_factor" -> docsFactor.toString, "queries" -> Harness.obj(qs),
      "dedup_pairs" -> Harness.obj(pairCounts),
      "recall_10x" -> Harness.nums(recall10x))))
    spark.stop()
  }
}
