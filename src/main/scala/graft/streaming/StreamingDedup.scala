package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication — the streaming twin of the batch
  * `dd_exact` operator: a document is emitted the first time its content
  * hash is seen and suppressed on every later arrival.
  *
  * Shape: keyBy(md5(text)) → flatMapGroupsWithState with a single
  * boolean per key. State is O(distinct content hashes) — each entry is
  * the 32-byte digest key plus a flag, NOT the document, so 100 TB of
  * text dedups with gigabytes of state. The same layout Spark's own
  * `dropDuplicates` on a stream uses, made explicit so a TTL policy
  * (ProcessingTimeTimeout + state.setTimeoutDuration) can bound state
  * for unbounded key spaces.
  */
object StreamingDedup {

  case class Doc(doc_id: Long, text: String)
  case class SeenDoc(text_hash: String, doc_id: Long)

  /** First-seen filter: emits (hash, doc_id) for first arrivals only. */
  def firstSeen(docs: Dataset[Doc]): Dataset[SeenDoc] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("text"), md5(col("text")).as("text_hash"))
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, SeenDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (hash, batch, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // Deterministic representative within the batch: min doc_id
            // (keep-first, matching the batch operator's keep_id).
            Iterator.single(SeenDoc(hash, batch.map(_._1).min))
          }
      }
  }

  /** Streaming curation: the per-row quality gate of the batch
    * `pipe_curate` query (n_words >= 30, type-token ratio >= 0.3) fused
    * IN FRONT of the first-seen dedup state — rejected documents never
    * touch the state store, so state stays O(distinct hashes of
    * documents worth keeping). This is the streaming half of an
    * LLM-ingest pipeline; near-dup pruning (LSH candidates are global
    * by nature) remains the batch operator's job downstream.
    */
  def curatedFirstSeen(docs: Dataset[Doc]): Dataset[SeenDoc] = {
    import docs.sparkSession.implicits._
    val filtered = graft.operators.TextAnalysis.qualityGate(docs.toDF())
      .select(col("doc_id"), col("text")).as[Doc]
    firstSeen(filtered)
  }

  /** TTL-bounded first-seen filter for UNBOUNDED key spaces: dedup state
    * for a content hash is kept only while the watermark is within
    * `delay` of its event time, then evicted — so state is
    * O(hashes per TTL window), not O(all hashes ever). The tradeoff is
    * explicit: a duplicate arriving after its original's state was
    * evicted is re-emitted (at 100 TB/day of web crawl this is the only
    * viable contract; exact forever-dedup is the batch operator's job).
    * Built on dropDuplicatesWithinWatermark so eviction rides the
    * engine's own watermark bookkeeping.
    */
  def firstSeenWithinTtl(docs: org.apache.spark.sql.DataFrame,
      delay: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("ts"), md5(col("text")).as("text_hash"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("text_hash")

  case class Seg(doc_id: Long, seg_idx: Long, seg: String)

  /** Streaming line-level (segment) dedup — the online twin of the
    * batch `pp_line_dedup` operator: each micro-batch's segments are
    * screened against every segment ever seen, and only first global
    * occurrences survive (within a batch the minimum (doc_id, seg_idx)
    * occurrence represents, matching the batch operator's keep-first).
    * Segmentation is [[graft.operators.CorpusOps.segmentsOf]] — shared
    * code, so the twins cannot disagree about the unit.
    *
    * State: one flag per DISTINCT segment, keyed by the segment's
    * xxhash64 digest rather than its text — 8 bytes + flag per entry,
    * so the state store scales with the segment vocabulary, not the
    * corpus bytes. The digest contract is the gramDigests one: a 64-bit
    * collision can only MERGE two segments (the later one is treated as
    * already seen and dropped) — acceptable at ~2⁻³² for billions of
    * segments, and the batch operator (string keys end to end) is the
    * exact authority. Equivalence contract with the batch twin: equal
    * output whenever documents arrive in ascending doc_id order across
    * micro-batches (the append-only ingest order), same as
    * [[firstSeen]]'s.
    */
  def firstSeenSegments(docs: Dataset[Doc]): Dataset[Seg] = {
    import docs.sparkSession.implicits._
    graft.operators.CorpusOps.segmentsOf(docs.toDF())
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        xxhash64(col("seg")).as("gh"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[Boolean, Seg](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, batch, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = batch.minBy(r => (r._1, r._2))
            Iterator.single(Seg(first._1, first._2, first._3))
          }
      }
  }

  /** Drive parquet document drops through the segment first-seen state
    * and reassemble each batch's surviving segments into documents at
    * `outDir` — a document arrives WHOLE in one micro-batch, so all its
    * surviving segments are present when its batch reassembles
    * (batch-local groupBy; documents whose every segment was seen
    * before simply never appear). Reassembly is the batch operator's
    * own [[graft.operators.CorpusOps.reassemble]].
    */
  def runLineDedupToParquet(spark: SparkSession, srcDir: String,
      outDir: String, maxFilesPerTrigger: Int = 0): Unit = {
    import spark.implicits._
    val reader = spark.readStream.schema("doc_id LONG, text STRING")
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
      .as[Doc]
    val q = firstSeenSegments(src)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: Dataset[Seg], _: Long) =>
        graft.operators.CorpusOps.reassemble(b.toDF())
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
