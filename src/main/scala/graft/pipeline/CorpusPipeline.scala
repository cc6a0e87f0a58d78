package graft.pipeline

import graft._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end LLM training-corpus pipeline: the individually-green
  * operators composed into ONE flow, batch and streaming, proving they
  * chain — ingest (gzip JSONL, the corpus interchange format) →
  * quality gate → exact keep-first dedup → line-level (segment) dedup
  * → contamination-safe cluster split → training-sequence packing.
  *
  * Stages communicate only through warehouse parquet tables (each
  * stage writes `<wh>/<stage>/documents.parquet` or its output table),
  * so a retried stage re-reads consistent inputs, the driver holds no
  * row data, and the split stage can literally reuse the registered
  * `pp_cluster_split` query against its predecessor's output dir.
  *
  * Per-stage scale shape (each argued at its definition site):
  * ingest = parallel gzip-JSONL scan; curate = per-row predicates, no
  * shuffle; dedup = one hash-groupBy on md5(text) with a map-side
  * min_by (digests shuffle, text values ride inside the collapsed
  * struct one-per-hash); split = PPJoin candidate pairs + label
  * propagation (never all-pairs); pack = per-shard window, shards
  * pack in parallel.
  *
  * The streaming twin ([[runStreamingTwin]]) runs the same gate +
  * dedup as `curatedFirstSeen` state (O(distinct hashes) of 32-byte
  * digests) feeding the idempotent [[graft.streaming.UpsertSink]],
  * then the IDENTICAL split/pack stages — spec-asserted equal to the
  * batch flow on the same corpus.
  */
object CorpusPipeline {

  /** Exact keep-first dedup retaining FULL rows: one shuffle on
    * md5(text) — min_by collapses each hash's candidates map-side, so
    * one row per distinct content crosses the exchange; the text never
    * becomes the join/group key itself.
    */
  private[graft] def exactKeepFirst(docs: DataFrame): DataFrame = {
    val cols = docs.columns.toSeq
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("r"))
      .select(cols.map(c => col(s"r.$c").as(c)): _*)
  }

  /** The batch flow's first half: raw JSONL → curated → unique. */
  def ingestStages(s: SparkSession, srcJsonlDir: String, wh: String,
      retries: Int = 2): Seq[PipelineRunner.Stage] = Seq(
    PipelineRunner.Stage("ingest", retries, () =>
      s.read.schema(Tables.DocumentsSchema).json(srcJsonlDir)
        .write.mode("overwrite").parquet(s"$wh/raw/documents.parquet")),
    PipelineRunner.Stage("curate", retries, () =>
      operators.TextAnalysis.qualityGate(
        s.read.parquet(s"$wh/raw/documents.parquet"))
        .write.mode("overwrite").parquet(s"$wh/curated/documents.parquet")),
    PipelineRunner.Stage("dedup", retries, () =>
      exactKeepFirst(s.read.parquet(s"$wh/curated/documents.parquet"))
        .write.mode("overwrite").parquet(s"$wh/unique/documents.parquet")))

  /** The flow's second half, shared VERBATIM by batch and streaming:
    * contamination-safe cluster split over the unique corpus, a
    * decontamination screen of the train split against the held-out
    * TEST split's gram set, then training-sequence packing of the
    * clean train docs.
    *
    * The screen composes with the cluster split deliberately: the
    * split already keeps near-dup CLUSTERS together (so wholesale
    * near-dup leakage cannot cross splits), and the 5-gram screen then
    * removes the residue cluster labels cannot see — unrelated docs
    * sharing verbatim phrases with the held-out set. Bench-side grams
    * come from the ACTUAL test assignment (not the md5 bucket the
    * standalone `pp_decontaminate` query derives), so the two stages
    * agree about what "held out" means.
    */
  def downstreamStages(s: SparkSession, wh: String,
      retries: Int = 2): Seq[PipelineRunner.Stage] = Seq(
    // Line-level dedup sits between whole-document dedup and the
    // near-dup cluster split, the ordering real corpus pipelines use:
    // exact dedup first collapses clone clusters (bounding the
    // pair-heavy stages' output — the round-8 30× probe), then segment
    // dedup strips cross-document boilerplate so the near-dup stage
    // compares documents on their actual content rather than shared
    // furniture. Fully-emptied documents leave the corpus here.
    PipelineRunner.Stage("linededup", retries, () =>
      operators.CorpusOps.lineDedupDocs(
        s.read.parquet(s"$wh/unique/documents.parquet"))
        .write.mode("overwrite").parquet(s"$wh/linededup/documents.parquet")),
    PipelineRunner.Stage("split", retries, () =>
      operators.Dedup.clusterSplit(s, s"$wh/linededup")
        .write.mode("overwrite").parquet(s"$wh/splits/assignments.parquet")),
    PipelineRunner.Stage("screen", retries, () => {
      val docs = s.read.parquet(s"$wh/linededup/documents.parquet")
      val splits = s.read.parquet(s"$wh/splits/assignments.parquet")
      def ofSplit(name: String) = docs.join(
        splits.filter(col("split") === name).select("doc_id"),
        Seq("doc_id"), "left_semi")
      // screenClean reads its input twice (gram side + anti-join left
      // side); persisting the train slice for the stage's duration
      // halves the semi-join work, released before pack runs.
      val train = ofSplit("train").persist()
      try operators.CorpusOps.screenClean(train,
        operators.CorpusOps.gramDigests(ofSplit("test"))
          .select("gh").distinct())
        .write.mode("overwrite").parquet(s"$wh/screened/documents.parquet")
      finally train.unpersist()
    }),
    PipelineRunner.Stage("pack", retries, () =>
      operators.CorpusOps.packDocs(
        s.read.parquet(s"$wh/screened/documents.parquet"))
        .write.mode("overwrite").parquet(s"$wh/packed/sequences.parquet")))

  /** The full batch flow. */
  def runBatch(s: SparkSession, srcJsonlDir: String, wh: String,
      retries: Int = 2): PipelineRunner.RunReport =
    PipelineRunner.run(
      ingestStages(s, srcJsonlDir, wh, retries) ++
        downstreamStages(s, wh, retries))

  /** Streaming twin of ingest+curate+dedup: parquet drops stream
    * through the quality-gated first-seen dedup state
    * ([[graft.streaming.StreamingDedup.curatedFirstSeen]]) into the
    * keyed [[graft.streaming.UpsertSink]] (idempotent under
    * foreachBatch replay — a re-delivered batch re-merges the same
    * keys), then the kept documents materialize via a semi-join and
    * the SAME downstream stages run. Equivalence contract: the batch
    * keep-first winner is the minimum doc_id per hash, the stream
    * keeps the first ARRIVAL — identical whenever drops arrive in
    * ascending doc_id order (the append-only ingest order a corpus
    * pipeline produces); the spec drives exactly that and asserts
    * end-to-end equality of unique/split/packed outputs.
    */
  def runStreamingTwin(s: SparkSession, srcDropsDir: String, wh: String,
      maxFilesPerTrigger: Int = 1,
      retries: Int = 2): PipelineRunner.RunReport = {
    import s.implicits._
    val src = s.readStream.schema(Tables.DocumentsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDropsDir)
      .select(col("doc_id"), col("text"))
      .as[streaming.StreamingDedup.Doc]
    val q = streaming.StreamingDedup.curatedFirstSeen(src)
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: Dataset[streaming.StreamingDedup.SeenDoc], _: Long) =>
          streaming.UpsertSink.upsert(b.toDF(), s"$wh/unique_keys", "text_hash")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val keep = PipelineRunner.Stage("materialize_unique", retries, () => {
      val kept = s.read.parquet(s"$wh/unique_keys").select("doc_id")
      s.read.schema(Tables.DocumentsSchema).parquet(srcDropsDir)
        .join(kept, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$wh/unique/documents.parquet")
    })
    PipelineRunner.run(keep +: downstreamStages(s, wh, retries))
  }
}
