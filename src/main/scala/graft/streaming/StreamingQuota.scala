package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming token-budget admission — the streaming twin of the batch
  * `pp_token_budget` operator: each source admits documents until its
  * token budget is spent, then drops the rest of the stream.
  *
  * Shape: keyBy(source) → flatMapGroupsWithState with ONE long per
  * source (cumulative admitted tokens). State is O(sources) — bytes per
  * domain, regardless of corpus volume — and the admission rule is the
  * batch operator's exactly: a document is kept iff its source's
  * running total BEFORE it is still under budget.
  *
  * Ordering semantics, stated honestly: the batch operator admits in a
  * global deterministic md5 order; a stream can only order what it has
  * seen, so ordering here is md5 order WITHIN each micro-batch and
  * arrival order across micro-batches. When the whole corpus lands in
  * one micro-batch the two operators produce identical rows
  * (spec-asserted); under multi-batch arrival the admission set depends
  * on arrival, which is the inherent contract of online quota
  * enforcement.
  */
object StreamingQuota {

  case class Doc(doc_id: Long, text: String, source: String)
  case class Admitted(doc_id: Long, source: String, n_tokens: Long,
      cum_tokens: Long)

  /** Per-source budget admission over a document stream. */
  def admit(docs: Dataset[Doc], budget: Long = 800L): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        conv(substring(md5(col("doc_id").cast("string")), 17, 4), 16, 10)
          .cast("long").as("ord"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (source, batch, state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // same within-batch order as the batch operator: md5 slice,
          // then doc_id — so a single-micro-batch stream reproduces
          // pp_token_budget row-for-row.
          val out = batch.toSeq.sortBy(r => (r._4, r._1)).flatMap {
            case (id, _, n, _) =>
              if (cum < budget) {
                cum += n
                Some(Admitted(id, source, n, cum))
              } else None
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Drive a documents parquet directory as a stream into an in-memory
    * table and block until all input is processed. `maxFilesPerTrigger`
    * > 0 splits the backlog into several micro-batches; 0 processes it
    * as one batch.
    */
  def runToMemory(spark: SparkSession, srcDir: String, queryName: String,
      maxFilesPerTrigger: Int = 0, budget: Long = 800L): Unit = {
    import spark.implicits._
    val reader = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING")
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
      .as[Doc]
    val q = admit(src, budget)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
  }
}
