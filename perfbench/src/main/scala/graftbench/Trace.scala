package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the run. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed interval of the trace. `trace` is the id of the operation
  * every span of one operation shares; `parent` is the causing span.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty)

/** What the listeners saw of one Spark stage attempt. */
final class StageRec(val stageId: Int, val attempt: Int) {
  var submitMs = 0L
  var doneMs = 0L
  var numTasks = 0
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inRows = 0L
  var inBytes = 0L
  var scanTasks = 0L
  var shReadBytes = 0L
  var shWriteBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
}

final class JobRec(val jobId: Int, val startMs: Long, val group: String,
    val streamBatch: String, val stageIds: Seq[Int]) {
  var endMs = 0L
  var ok = true
}

/** Spark-level recorder the benchmark registers itself: a SparkListener
  * for jobs, stages, tasks and cached blocks, a QueryExecutionListener
  * for the Catalyst phase times of every executed query, and a
  * StreamingQueryListener for micro-batches. Registered only in traced
  * runs; everything it records stays in memory until [[spans]].
  */
final class Recorder(spark: SparkSession) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  /** (phase, startMs, endMs) of every executed query's Catalyst phases. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  /** Memory-resident cached blocks dropped while their RDD was pinned. */
  @volatile var blocksEvicted = 0L
  val batches = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def stage(id: Int, attempt: Int) =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.add(new JobRec(e.jobId, e.time, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.jobId == e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      s.numTasks = e.stageInfo.numTasks
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s.numTasks = e.stageInfo.numTasks
      if (s.submitMs == 0L) s.submitMs = e.stageInfo.submissionTime.getOrElse(s.doneMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.inRows += m.inputMetrics.recordsRead
          s.inBytes += m.inputMetrics.bytesRead
          if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
          s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { rdd =>
        if (!info.storageLevel.useMemory &&
            spark.sparkContext.getPersistentRDDs.contains(rdd.rddId))
          blocksEvicted += 1
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs, p.endTimeMs))
    }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far, then detach.
    */
  def stop(): Unit = {
    org.apache.spark.perfbenchglue.Bus.drain(spark.sparkContext, 60000L)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def allStages: Seq[StageRec] = stages.values().asScala.toSeq
}

/** The span tree of a traced run: one span per operation, children
  * build, plan and exec; Spark jobs under the phase they started in,
  * stages under their job; streaming micro-batches under the operation
  * that ran the stream, with their jobs under them.
  */
object SpanTree {
  def build(ops: Seq[Op], rec: Recorder): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0L
    def add(parent: Long, trace: String, layer: String, name: String,
        s: Long, e: Long, attrs: Map[String, Double] = Map.empty): Long = {
      next += 1
      out += Span(next, parent, trace, layer, name, s, e, attrs)
      next
    }
    val stagesById = rec.allStages.groupBy(_.stageId)
    val jobs = rec.jobs.asScala.toSeq.sortBy(_.startMs)
    val byGroup = jobs.groupBy(_.group)
    val batchEvents = rec.batches.asScala.toSeq
    val opIds = ops.map(_.id).toSet
    def jobSpan(parent: Long, trace: String, j: JobRec): Unit = {
      val jid = add(parent, trace, "job", s"job ${j.jobId}", j.startMs * 1000L,
        math.max(j.endMs, j.startMs) * 1000L)
      j.stageIds.flatMap(stagesById.getOrElse(_, Nil)).filter(_.doneMs > 0)
        .sortBy(_.submitMs).foreach { s =>
          add(jid, trace, "stage", s"stage ${s.stageId}.${s.attempt}",
            s.submitMs * 1000L, s.doneMs * 1000L, Map(
              "num_tasks" -> s.numTasks, "tasks" -> s.tasks.toDouble,
              "run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
              "scan_rows" -> s.inRows.toDouble, "scan_bytes" -> s.inBytes.toDouble,
              "scan_tasks" -> s.scanTasks.toDouble,
              "shuffle_read_bytes" -> s.shReadBytes.toDouble,
              "shuffle_write_bytes" -> s.shWriteBytes.toDouble,
              "spill_bytes" -> s.spillBytes.toDouble,
              "write_bytes" -> s.outBytes.toDouble))
        }
    }
    for (op <- ops) {
      val trace = op.id
      val opSpan = add(0L, trace, "op", op.name, op.startUs, op.endUs,
        Map("pass" -> op.pass.toDouble))
      val phaseSpans = Seq(
        ("build", op.startUs, op.buildEndUs),
        ("plan", op.buildEndUs, op.planEndUs),
        ("exec", op.planEndUs, op.endUs))
        .filter { case (_, s, e) => e > s }
        .map { case (l, s, e) => (l, s, e, add(opSpan, trace, l, l, s, e)) }
      def phaseOf(us: Long): Long = phaseSpans
        .find { case (_, s, e, _) => us >= s / 1000L * 1000L && us <= e }
        .orElse(phaseSpans.lastOption).map(_._4).getOrElse(opSpan)
      // Jobs tagged with this operation's group, or untagged jobs that
      // started inside it (streaming micro-batches carry the stream's
      // own group); micro-batch jobs hang under their batch span.
      val inOp = (byGroup.getOrElse(op.id, Nil) ++ jobs.filter(j =>
        !opIds(j.group) &&
          j.startMs * 1000L >= op.startUs / 1000L * 1000L &&
          j.startMs * 1000L <= op.endUs)).distinct
      val (streamJobs, plain) = inOp.partition(_.streamBatch.nonEmpty)
      plain.foreach(j => jobSpan(phaseOf(j.startMs * 1000L), trace, j))
      val opBatches = batchEvents.filter { e =>
        val t = java.time.Instant.parse(e.progress.timestamp).toEpochMilli * 1000L
        t >= op.startUs / 1000L * 1000L && t <= op.endUs
      }
      opBatches.foreach { e =>
        val p = e.progress
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val d = p.durationMs.asScala
        val bid = add(phaseOf(s), trace, "batch", s"batch ${p.batchId}", s,
          s + p.batchDuration * 1000L, Map(
            "input_rows" -> p.numInputRows.toDouble,
            "add_batch_s" -> d.get("addBatch").map(_.toLong / 1e3).getOrElse(0.0),
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
        streamJobs.filter(_.streamBatch == p.batchId.toString)
          .foreach(j => jobSpan(bid, trace, j))
      }
    }
    out.toSeq
  }
}
