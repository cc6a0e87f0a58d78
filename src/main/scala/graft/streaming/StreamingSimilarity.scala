package graft.streaming

import graft.operators.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming similarity — the online half of a vector store, over a
  * persisted [[graft.operators.VectorIndex]] of any kind: one stream
  * answers arriving vectors top-k against the index, another appends
  * arriving corpus vectors to it.
  *
  * Shape: the streams are STATELESS — every trigger is an independent
  * batch-semantics step (foreachBatch) against the index directory, so
  * there is no state store, watermarks play no role, and throughput
  * scales with executors × index partitioning alone. This is
  * deliberately NOT a streaming aggregation: per-query top-k needs full
  * intra-batch semantics (window rank over the candidate set), which
  * foreachBatch provides and append-mode streaming aggregation cannot.
  */
object StreamingSimilarity {

  /** Drive a (vec_id, embedding) parquet-drop stream against the index;
    * each micro-batch's top-k rows land under `outDir/batch=<id>` —
    * written as they are computed, never buffered on the driver, and
    * OVERWRITTEN per batch id so a failed-then-rerun invocation (which
    * replays the source from scratch, batch ids restarting at 0)
    * converges to the same output instead of appending duplicates. The
    * index loads ONCE, outside the loop; a coarse-quantized index then
    * reads only each batch's probed cells.
    * Blocks until all available input is processed.
    */
  def serveTopk(spark: SparkSession, srcDir: String, indexPath: String,
      outDir: String, maxFilesPerTrigger: Int = 0): Unit = {
    val ix = VectorIndex.load(spark, indexPath)
    run(spark, srcDir, maxFilesPerTrigger) { (batch, batchId) =>
      VectorIndex.topk(batch, ix)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }
  }

  /** ONLINE INDEX MAINTENANCE: drive a (vec_id, embedding) parquet-drop
    * stream of NEW corpus vectors into the index — each micro-batch goes
    * through [[graft.operators.VectorIndex.append]], so a query served
    * after batch N sees every vector ingested through batch N. The
    * query keeps no checkpoint, so every start replays the whole
    * source; the append's replay policy makes that safe: rows already
    * resident with the same vector are skipped, so a restarted stream
    * is a no-op, while a resident vec_id arriving with a different
    * vector still fails. An `lsh` index stays bit-identical to a build
    * over the union; the trained kinds drift until a rebuild.
    */
  def appendStream(spark: SparkSession, srcDir: String,
      indexPath: String, maxFilesPerTrigger: Int = 0): Unit =
    run(spark, srcDir, maxFilesPerTrigger) { (batch, _) =>
      VectorIndex.append(batch, indexPath)
    }

  private def run(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int)(step: (DataFrame, Long) => Unit): Unit = {
    val reader = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
    val q = src.writeStream.foreachBatch(step).start()
    q.processAllAvailable()
    q.stop()
  }
}
