package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming differential gate: replays the batch corpus through every
  * streaming twin in ORDERED micro-batches and diffs the final state
  * against the batch operator each twin claims as its oracle. The
  * ScalaTest suite asserts the same equivalences per twin; this main
  * lifts them into a committed artifact (`stream_verify.json`) with
  * per-twin match booleans, so the round-close protocol carries the
  * differential evidence the way CORRECTNESS carries the DuckDB gate —
  * not just a green test run nobody can re-read.
  *
  * Replay discipline: stateful twins whose batch equivalence is
  * contracted on ARRIVAL ORDER (dedup, quota, funnel, drift) get drops
  * sorted by their order column and split into sequential ranges with
  * ascending mtimes — FileStreamSource processes oldest-first, so the
  * stream sees exactly the batch operator's order, split at arbitrary
  * points. Stateless twins (decontaminate, similarity serving) get
  * unordered multi-file drops: their contract is per-batch, order-free.
  * Every twin runs MULTI-batch (maxFilesPerTrigger = 1 over ≥4 files);
  * a single-batch replay would not exercise cross-batch state at all.
  *
  * Usage: runMain graft.StreamVerify [sfDir] [scratchDir]
  * Artifact: stream_verify.json
  */
object StreamVerify {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val scratch = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_stream_verify")
        .toString)
    val spark = Harness.session()
    import spark.implicits._

    /** Write `df` as `parts` single-file drops in `orderCol` order with
      * ascending mtimes — the FileStreamSource replay of "the batch
      * corpus, arriving in its own order, in `parts` micro-batches".
      */
    def orderedDrops(df: DataFrame, orderCol: String, parts: Int,
        dir: String): String = {
      // Delete-then-create: a rerun with an existing scratch dir (the
      // documented [scratchDir] arg) must replace stale drops, not
      // abort on mkdirs — and stale drop files would silently replay
      // a previous corpus.
      val dropsDir = new java.io.File(dir)
      org.apache.commons.io.FileUtils.deleteQuietly(dropsDir)
      require(dropsDir.mkdirs(), s"mkdirs $dir")
      val keys = df.select(orderCol).orderBy(orderCol).collect()
        .map(_.get(0).toString)
      val cuts = (1 until parts).map(i => keys(i * keys.length / parts))
      val bounds = ("" +: cuts) :+ "￿"
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        val tmp = s"$dir.tmp_$i"
        df.filter(col(orderCol).cast("string") >= lit(lo) &&
            col(orderCol).cast("string") < lit(hi))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dropsDir, f"drop-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        require(dst.setLastModified(1700000000000L + i * 60000L))
        // Staging dir is spent once its part file is copied out.
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
      dir
    }

    // Sorting by a CAST STRING key is only order-preserving for ids of
    // equal digit width; these replays order by zero-padded surrogate
    // keys instead (built below per twin) or by timestamps whose string
    // form is chronological.
    def paddedDocs: DataFrame = Tables.documents(spark, sfDir)
      .withColumn("ord", format_string("%012d", col("doc_id")))
    def paddedEvents: DataFrame = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ord", format_string("%020d", unix_micros(col("ts"))))

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Boolean, Long, Long, String)]
    def twin(name: String)(body: => (Boolean, Long, Long)): Unit = {
      val r = try {
        val (ok, s, b) = body
        (name, ok, s, b, "")
      } catch {
        case e: Throwable => (name, false, -1L, -1L, errLine(name, e))
      }
      results += r
      println(f"[stream_verify] $name%-22s match=${r._2} " +
        f"streamed=${r._3} batch=${r._4} ${r._5}")
    }

    // 1. Exact dedup: first-seen state vs batch min-doc_id-per-hash.
    //    Ordered arrival → the global first occurrence of a hash is its
    //    min doc_id, the batch operator's keep-first representative.
    twin("dedup_first_seen") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val docs = Tables.documents(spark, sfDir)
        .select($"doc_id", $"text")
        .as[streaming.StreamingDedup.Doc]
        .collect().sortBy(_.doc_id)
      val mem = MemoryStream[streaming.StreamingDedup.Doc]
      val q = streaming.StreamingDedup.firstSeen(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("sv_dedup").start()
      docs.grouped(math.max(1, docs.length / 5)).foreach { b =>
        mem.addData(b.toSeq); q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("sv_dedup").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val batch = Tables.documents(spark, sfDir)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 2. Line-level dedup vs pp_line_dedup (ordered drops).
    twin("line_dedup") {
      orderedDrops(paddedDocs, "ord", 4, s"$scratch/linededup_src")
      streaming.StreamingDedup.runLineDedupToParquet(spark,
        s"$scratch/linededup_src", s"$scratch/linededup_out",
        maxFilesPerTrigger = 1)
      def rows(df: DataFrame) =
        df.select("doc_id", "n_kept", "text_deduped").orderBy("doc_id")
          .collect().map(_.toString).toSeq
      val streamed = rows(spark.read.parquet(s"$scratch/linededup_out"))
      val batch = rows(SparkEntry.queries("pp_line_dedup")(spark, sfDir))
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 3. Token-budget quota vs pp_token_budget. The batch operator
    //    admits in md5-HASH order (slice 17..20 of doc_id, then
    //    doc_id) — so the replay's drops are ordered by that same
    //    hash key, not by doc_id: arrival order = admission order is
    //    the twins' documented equivalence contract.
    twin("quota") {
      val hashOrd = conv(
        substring(md5(col("doc_id").cast("string")), 17, 4), 16, 10)
        .cast("long")
      val quotaDocs = Tables.documents(spark, sfDir)
        .withColumn("ord", concat(format_string("%05d", hashOrd),
          format_string("%012d", col("doc_id"))))
      orderedDrops(quotaDocs, "ord", 4, s"$scratch/quota_src")
      streaming.StreamingQuota.runToMemory(spark,
        s"$scratch/quota_src", "sv_quota", maxFilesPerTrigger = 1)
      val streamed = spark.table("sv_quota")
        .select("doc_id", "source", "n_tokens", "cum_tokens").collect()
        .map(_.toString).toSet
      val batch = SparkEntry.queries("pp_token_budget")(spark, sfDir)
        .select("doc_id", "source", "n_tokens", "cum_tokens").collect()
        .map(_.toString).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 4. Funnel vs es_funnel (ts-ordered drops; batch emits depth-0
    //    users the progress stream by definition does not carry).
    twin("funnel") {
      orderedDrops(paddedEvents, "ord", 4, s"$scratch/funnel_src")
      streaming.StreamingFunnel.runToMemory(spark,
        s"$scratch/funnel_src", "sv_funnel", maxFilesPerTrigger = 1)
      val streamed = spark.table("sv_funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap)
        .toMap
      val batch = SparkEntry.queries("es_funnel")(spark, sfDir).collect()
        .map { r =>
          r.getLong(0) -> Seq(1, 2, 3).flatMap(i =>
            Option(r.get(i)).map(v => i -> v.asInstanceOf[Long])).toMap
        }.filter(_._2.nonEmpty).toMap
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 5. Drift monitor vs dq_drift on CLOSED days (the stream's final
    //    day per type is still open — batch recomputation has it, the
    //    online monitor correctly does not yet).
    twin("drift") {
      orderedDrops(paddedEvents, "ord", 4, s"$scratch/drift_src")
      streaming.StreamingDrift.runToMemory(spark,
        s"$scratch/drift_src", "sv_drift", maxFilesPerTrigger = 1)
      def rowsOf(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
        (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4),
            Option(r.get(5)).map(_.asInstanceOf[Double]))
      }.toMap
      val streamed = rowsOf(spark.table("sv_drift").collect())
      val lastDay = Tables.events(spark, sfDir)
        .groupBy("event_type")
        .agg(max(expr("unix_micros(ts) div 86400000000")).as("d"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = rowsOf(
        SparkEntry.queries("dq_drift")(spark, sfDir).collect()
          .filter(r => r.getLong(1) < lastDay(r.getString(0))))
      // batch emits r6-rounded doubles, the stream raw ones → compare
      // with the spec's 1e-6 tolerance, not bit equality.
      val ok = batch.nonEmpty && streamed.keySet == batch.keySet &&
        batch.forall { case (k, (n, mu, sg, z)) =>
          val (sn, smu, ssg, sz) = streamed(k)
          sn == n && math.abs(smu - mu) < 1e-6 &&
            math.abs(ssg - sg) < 1e-6 && z.isDefined == sz.isDefined &&
            z.zip(sz).forall { case (a, b) => math.abs(a - b) < 1e-6 }
        }
      (ok, streamed.size.toLong, batch.size.toLong)
    }

    // 6. Windowed counts vs the batch hourly aggregation (update-mode
    //    stream: the LAST update per (window, type) is the final count).
    twin("windowed_counts") {
      orderedDrops(paddedEvents, "ord", 4, s"$scratch/wc_src")
      streaming.StreamingFeatures.runWindowedToMemory(spark,
        s"$scratch/wc_src", "sv_counts")
      val streamed = spark.table("sv_counts")
        .groupBy("win_start", "event_type").agg(max("n").as("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, sfDir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 7. Decontamination screen vs the batch screen (stateless; drops
    //    unordered — the contract is per-batch).
    twin("decontaminate") {
      Tables.documents(spark, sfDir)
        .repartition(4).write.parquet(s"$scratch/decon_src")
      streaming.StreamingDecontaminate.screen(spark, s"$scratch/decon_src",
        sfDir, s"$scratch/decon_out", maxFilesPerTrigger = 1)
      val streamed = spark.read.parquet(s"$scratch/decon_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val docs = Tables.documents(spark, sfDir)
      val batch = operators.CorpusOps
        .screenClean(docs, operators.CorpusOps.benchGramSet(docs))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 8. ANN serving vs the batch serving entry on the same persisted
    //    LSH index (stateless; the union of per-batch answers must
    //    equal one batch call over the same query set).
    twin("similarity_serve") {
      operators.VectorIndex.build(spark, sfDir, s"$scratch/lsh_index", "lsh")
      Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding").filter(col("vec_id") < 40)
        .repartition(4).write.parquet(s"$scratch/sim_src")
      streaming.StreamingSimilarity.serveTopk(spark, s"$scratch/sim_src",
        s"$scratch/lsh_index", s"$scratch/sim_out", maxFilesPerTrigger = 1)
      val streamed = spark.read.parquet(s"$scratch/sim_out")
        .select("query_id", "rnk", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = operators.VectorIndex.topk(
        Tables.embeddings(spark, sfDir)
          .select("vec_id", "embedding").filter(col("vec_id") < 40),
        operators.VectorIndex.load(spark, s"$scratch/lsh_index"))
        .select("query_id", "rnk", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    // 9. Partitioned upsert sink: per-user rollups over 4 sequential
    //    day ranges upsert by user_id, one row per key per drop (the
    //    sink's intra-batch duplicate pick is documented as arbitrary,
    //    so the replay must not present duplicates). Final table must
    //    equal the batch "each user's LAST range's rollup".
    twin("upsert_sink") {
      val daily = Tables.events(spark, sfDir)
        .select(col("user_id").as("id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("value"))
      val days = daily.select("day").distinct().orderBy("day")
        .collect().map(_.getLong(0))
      val cuts = (1 until 4).map(i => days(i * days.length / 4))
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      val buckets = bounds.sliding(2).zipWithIndex.map {
        case (Seq(lo, hi), b) =>
          daily.filter(col("day") >= lo && col("day") < hi)
            .groupBy("id")
            .agg(max(col("day")).as("p"), count(lit(1)).as("n"),
              r6(sum("value")).as("v"))
            .withColumn("bucket", lit(b))
      }.toSeq
      val dropsDir = new java.io.File(s"$scratch/upsert_src")
      org.apache.commons.io.FileUtils.deleteQuietly(dropsDir)
      require(dropsDir.mkdirs())
      buckets.zipWithIndex.foreach { case (bdf, i) =>
        val tmp = s"$scratch/upsert_tmp_$i"
        bdf.drop("bucket").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(dropsDir, f"drop-$i%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        require(dst.setLastModified(1700000000000L + i * 60000L))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
      val tbl = s"$scratch/upsert_tbl"
      val q = spark.readStream
        .schema("id LONG, p LONG, n LONG, v DOUBLE")
        // one drop per micro-batch: a single batch holding all four
        // ranges would present duplicate ids within one upsert, where
        // the sink's pick is documented as arbitrary.
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$scratch/upsert_src")
        .writeStream
        .foreachBatch(streaming.UpsertSink.foreachBatchPartitioned(
          tbl, "id", "p", keysArePartitionStable = false))
        .option("checkpointLocation", tbl + ".chk")
        .start()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.read.parquet(tbl)
        .select(col("id"), col("p").cast("long"), col("n"), col("v"))
        .collect().map(_.toString).toSet
      // Batch twin reads the WRITTEN drops back (double sums are
      // order-dependent; recomputing the rollup could drift in ulps
      // from what the stream actually ingested).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("bucket").desc)
      val batch = (0 until 4).map(i =>
          spark.read.parquet(s"$scratch/upsert_src/drop-0$i.parquet")
            .withColumn("bucket", lit(i)))
        .reduce(_ unionByName _)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("id", "p", "n", "v").collect().map(_.toString).toSet
      (streamed.nonEmpty && streamed == batch,
        streamed.size.toLong, batch.size.toLong)
    }

    val twinsJson = Harness.obj(results.map { case (n, ok, s, b, err) =>
      n -> Harness.obj(Seq("match" -> ok.toString, "streamed" -> s.toString,
        "batch" -> b.toString) ++
        (if (err.nonEmpty) Seq("error" -> Harness.str(err)) else Nil))
    })
    val mismatch = results.collect { case (n, false, _, _, _) => n }
    Harness.emit("stream_verify.json", Harness.obj(Seq(
      "metric" -> Harness.str("stream_verify"), "n" -> results.size.toString,
      "all_match" -> mismatch.isEmpty.toString,
      "mismatch" -> Harness.arr(mismatch), "twins" -> twinsJson,
      "sf" -> Harness.str(sfDir))))
    spark.stop()
  }
}
