package graft

/** SemDeDup persisted-index scale probe: separates the ONE-TIME index
  * build cost (k-means train over the full corpus + the N·cells
  * assignment pass + the partitioned write) from the SERVE cost
  * (within-cell pair join from the persisted assignment table — no
  * train, no corpus read), at a replicated `factor`× corpus.
  *
  * This is the number the growth gates could not show: their protocol
  * warms each query once per dir, so `dd_semantic`'s measured pass
  * already serves against session-resident state — the gate growth is
  * honest for a long-lived session, but a fresh serving deployment pays
  * either the full train (no index) or a parquet read (persisted
  * index), and only this probe prices that difference. The in-session
  * cold/warm walls are recorded alongside for the comparison.
  *
  * Usage: runMain graft.SemIndexGate [factor] [srcSfDir] [scratchDir]
  * Artifact: sem_index_gate.json
  */
object SemIndexGate {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)
    val indexPath = s"${scratch}_semindex"
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(indexPath))

    def consume(df: org.apache.spark.sql.DataFrame): Long = {
      val t0 = System.nanoTime()
      Harness.drain(df)
      System.nanoTime() - t0
    }
    // In-session operator first: the COLD wall prices train + assign +
    // pair join (what a fresh session pays without an index); the WARM
    // wall serves against the session-resident centroids/assignments.
    val coldNs = consume(SparkEntry.queries("dd_semantic")(spark, scratch))
    val warmNs = consume(SparkEntry.queries("dd_semantic")(spark, scratch))
    // Persisted-index lifecycle: one-time build, then serve-only walls
    // (every serve loads the index and reads its assignments — no
    // session state).
    val tb0 = System.nanoTime()
    operators.VectorIndex.build(spark, scratch, indexPath, "sem")
    val buildNs = System.nanoTime() - tb0
    // Two serve passes: first is the JIT/codegen warm, second is the
    // steady-state serve a deployment sees.
    def serve() = operators.VectorIndex.pairs(
      operators.VectorIndex.load(spark, indexPath))
    consume(serve())
    val serveNs = consume(serve())
    val pairs = serve().count()
    val nVec = spark.read.parquet(s"$indexPath/vectors")
      .select("vec_id").distinct().count()
    def s(ns: Long) = Harness.num(ns / 1e9)
    Harness.emit(s"sem_index_gate_${factor}x.json", Harness.obj(Seq(
      "metric" -> Harness.str("sem_index_gate"), "factor" -> factor.toString,
      "n_vectors" -> nVec.toString, "pairs" -> pairs.toString,
      "build_sec" -> s(buildNs), "serve_sec" -> s(serveNs),
      "insession_cold_sec" -> s(coldNs), "insession_warm_sec" -> s(warmNs),
      "index_path" -> Harness.str(indexPath), "sf" -> Harness.str(src))))
    spark.stop()
  }
}
