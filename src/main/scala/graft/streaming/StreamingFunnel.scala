package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel tracking — the streaming twin of the batch
  * `es_funnel` operator: per user, the first view, the first click
  * strictly after it, and the first purchase strictly after that,
  * advanced online as events arrive.
  *
  * Shape: keyBy(user_id) → flatMapGroupsWithState with one
  * [[StreamingFunnel.FunnelState]] per user — three optional
  * epoch-micro timestamps of CROSS-BATCH state, a fixed few dozen
  * bytes per user regardless of how many events the user ever
  * produces. WITHIN one micro-batch, the group's funnel-relevant
  * events are buffered and time-sorted before the state walk (the
  * chained thresholds need time order, and a GroupState iterator is
  * single-pass) — memory there is bounded by the MICRO-BATCH, the
  * knob `maxFilesPerTrigger`/`maxBytesPerTrigger` already bounds, not
  * by the user's history; irrelevant event types and users whose
  * funnel is already complete skip the buffer entirely, so the
  * post-conversion bot firehose costs nothing. (The batch operator's
  * collect_list hazard — one task holding a user's UNBOUNDED history —
  * does not arise.) Each step ADVANCES AT MOST ONCE, and every
  * advancement emits one progress row — so the output stream carries
  * at most three rows per user ever, and the final funnel row is a
  * trivial rollup of the progress stream.
  *
  * Ordering semantics, stated honestly (the same contract family as
  * [[StreamingQuota]]): within a micro-batch events are processed in
  * event-time order, so a single-micro-batch stream reproduces the
  * batch operator exactly (spec-asserted), and any TIME-ORDERED
  * multi-batch arrival does too. Under OUT-OF-ORDER arrival across
  * micro-batches the state machine is prefix-monotone: a step once
  * taken is never retracted, so a late-arriving EARLIER click cannot
  * replace the one already recorded — batch recomputation would pick
  * the earlier one. That no-retraction rule is the inherent contract of
  * online funnel tracking (the alternative — buffering every event
  * within a lateness horizon — is what the batch operator is for).
  * The strict after-previous-step comparisons are applied identically
  * to the batch operator, so equal-timestamp events cannot flip a
  * decision in either form.
  */
object StreamingFunnel {

  case class Event(event_id: Long, user_id: Long, event_type: String,
      tus: Long)

  case class FunnelState(tView: Option[Long], tClick: Option[Long],
      tPurchase: Option[Long])

  /** One row per funnel advancement: step ∈ 1 (view), 2 (click),
    * 3 (purchase).
    */
  case class Progress(user_id: Long, step: Int, tus: Long)

  /** Advance per-user funnel state over an event stream. */
  def track(events: Dataset[Event]): Dataset[Progress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, Progress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, batch, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[Progress]
          // Buffer ONLY what the walk can still use: funnel-relevant
          // types, and nothing at all once the funnel is complete —
          // the iterator still drains (required by the contract) but
          // a converted user's further events are dropped on the fly.
          val relevant =
            if (st.tPurchase.isDefined) { batch.foreach(_ => ()); Seq.empty }
            else batch.filter(e => e.event_type == "view" ||
              e.event_type == "click" || e.event_type == "purchase").toSeq
          // Event-time order within the batch (event_id tiebreak for
          // determinism; the strict > guards below make ties unable to
          // flip any step decision regardless of tiebreak).
          relevant.sortBy(e => (e.tus, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.tView.isEmpty =>
                st = st.copy(tView = Some(e.tus))
                out += Progress(user, 1, e.tus)
              case "click" if st.tClick.isEmpty &&
                  st.tView.exists(e.tus > _) =>
                st = st.copy(tClick = Some(e.tus))
                out += Progress(user, 2, e.tus)
              case "purchase" if st.tPurchase.isEmpty &&
                  st.tClick.exists(e.tus > _) =>
                st = st.copy(tPurchase = Some(e.tus))
                out += Progress(user, 3, e.tus)
              case _ =>
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Drive an events parquet directory as a stream into an in-memory
    * table of [[Progress]] rows and block until all input is processed
    * (same driver contract as [[StreamingQuota.runToMemory]]).
    *
    * The directory must hold CANONICALIZED events (as written by
    * materializing `Tables.events` output — TimestampType micros), not
    * a raw driver file: file-source streams need a fixed explicit
    * schema, and the driver's physical ts encoding varies by round
    * (the round-6 lesson). Canonicalize-then-stream keeps this reader
    * encoding-proof.
    */
  def runToMemory(spark: SparkSession, srcDir: String, queryName: String,
      maxFilesPerTrigger: Int = 0): Unit = {
    import spark.implicits._
    val reader = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
        "event_type STRING, value DOUBLE")
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .as[Event]
    val q = track(src)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
  }
}
