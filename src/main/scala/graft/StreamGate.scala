package graft

/** Streaming scale gate: the 8 streaming twins have batch-equivalence
  * and crash-replay specs but, before this, no measured scale point.
  * This gate drives [[streaming.StreamingDedup.firstSeen]] — the
  * stateful shape (per-key state store growth) where a hidden
  * re-scan-the-state-per-batch bug would surface — through a
  * MemoryStream at 1× and `factor`× corpus size and records:
  *
  *  - docs/sec at each scale (the throughput point);
  *  - per-doc cost growth 10× vs 1× (state is O(distinct hashes), so
  *    per-doc cost must stay ~flat — quadratic state handling would
  *    show up directly here);
  *  - the last-batch/first-batch wall ratio within each run (the
  *    state-growth slope: batch 10 runs against 9 batches of
  *    accumulated state and must not cost multiples of batch 1).
  *
  * Flags when per-doc growth or either slope exceeds [[Bound]].
  * The corpus feeds in [[Batches]] equal micro-batches; walls below
  * [[FloorSec]] are clamped before ratios so scheduler noise on
  * near-empty batches cannot flag.
  *
  * Usage: runMain graft.StreamGate [factor] [srcSfDir] [scratchDir]
  * Artifact: stream_gate.json.
  */
object StreamGate {
  val Bound = 3.0
  val Batches = 10
  val FloorSec = 0.25

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(2).getOrElse(s"/tmp/graft_growth$factor")
    val spark = Harness.session()
    ScaleData.writeScaledWarehouse(spark, src, scratch, factor, Harness.cpus)
    import spark.implicits._

    /** Feed the dir's documents through firstSeen in [[Batches]] equal
      * micro-batches; returns (docs, totalSec, firstBatchSec,
      * lastBatchSec, emitted).
      */
    def run(dir: String): (Long, Double, Double, Double, Long) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val docs = Tables.documents(spark, dir)
        .select($"doc_id", $"text")
        .as[streaming.StreamingDedup.Doc]
        .collect()
      val mem = MemoryStream[streaming.StreamingDedup.Doc]
      val qname = s"stream_gate_${System.nanoTime()}"
      val q = streaming.StreamingDedup.firstSeen(mem.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName(qname).start()
      // Ceil division: floor would yield Batches+1 groups with a tiny
      // remainder micro-batch as walls.last, and the last/first slope
      // would then compare unequal batch sizes (understating state
      // growth). Ceil keeps every batch within 1 doc of equal size.
      val chunk = math.max(1, (docs.length + Batches - 1) / Batches)
      val walls = docs.grouped(chunk).map { batch =>
        val t0 = System.nanoTime()
        mem.addData(batch.toSeq)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.toVector
      val emitted = spark.table(qname).count()
      q.stop()
      (docs.length.toLong, walls.sum, walls.head, walls.last, emitted)
    }
    // Warm pass at 1× (JIT + codegen), then the measured points.
    run(src)
    val (n1, t1, f1, l1, e1) = run(src)
    val (nN, tN, fN, lN, eN) = run(scratch)
    def fl(v: Double) = math.max(v, FloorSec)
    val perDoc1 = t1 / n1
    val perDocN = tN / nN
    val growth = perDocN / perDoc1
    val slope1 = fl(l1) / fl(f1)
    val slopeN = fl(lN) / fl(fN)
    val flags = Seq(
      "per_doc_growth" -> growth, "slope_1x" -> slope1,
      s"slope_${factor}x" -> slopeN).collect {
      case (k, v) if v > Bound => k
    }
    def fmt(v: Double) = Harness.num(v, 4)
    Harness.emit("stream_gate.json", Harness.obj(Seq(
      "metric" -> Harness.str("stream_gate"),
      "op" -> Harness.str("dedup_first_seen"), "factor" -> factor.toString,
      "bound" -> Bound.toString, "batches" -> Batches.toString,
      "docs_1x" -> n1.toString, s"docs_${factor}x" -> nN.toString,
      "docs_per_sec_1x" -> fmt(n1 / t1),
      s"docs_per_sec_${factor}x" -> fmt(nN / tN),
      "per_doc_growth" -> fmt(growth),
      "slope_1x" -> fmt(slope1), s"slope_${factor}x" -> fmt(slopeN),
      "emitted_1x" -> e1.toString, s"emitted_${factor}x" -> eN.toString,
      "flags" -> Harness.arr(flags), "sf" -> Harness.str(src))))
    spark.stop()
  }
}
