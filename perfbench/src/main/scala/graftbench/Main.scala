package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation: a registry query, a pipeline stage, the
  * streaming twin or a report. build and plan are empty when the
  * operation cannot be split (a closure that builds and runs at once).
  */
final class Op(val id: String, val name: String, val kind: String, val pass: Int) {
  var startUs = 0L
  var buildEndUs = 0L
  var planEndUs = 0L
  var endUs = 0L
  var ok = true
  var error = ""
  var pinsCreated = 0
}

final case class Pass(index: Int, startUs: Long, endUs: Long, gcMs: Long)

/** Handed to an operation's body: `built` marks the end of DataFrame
  * construction; in traced runs it then forces each physical plan on
  * its own span.
  */
final class OpCtx(op: Op, traced: Boolean) {
  def built(dfs: DataFrame*): Unit = {
    op.buildEndUs = Clock.us()
    if (traced) dfs.foreach(_.queryExecution.executedPlan)
    op.planEndUs = Clock.us()
  }
}

/** Times operations from the benchmark's side of each layer's public
  * functions. Untraced runs only read the clock; traced runs also tag
  * Spark jobs with the operation id and count the pins each creates.
  */
final class Runner(spark: SparkSession, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var seq = 0
  private val sc = spark.sparkContext

  def timed(name: String, kind: String, pass: Int)(body: OpCtx => Unit): Op = {
    seq += 1
    val op = new Op(f"op$seq%05d", name, kind, pass)
    ops += op
    val pinsBefore = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
    if (traced) sc.setJobGroup(op.id, name)
    op.startUs = Clock.us()
    try body(new OpCtx(op, traced))
    catch {
      case NonFatal(e) =>
        op.ok = false
        op.error = s"${e.getClass.getName}: ${e.getMessage}".take(400)
        throw e
    } finally {
      op.endUs = Clock.us()
      if (op.buildEndUs == 0L) { op.buildEndUs = op.startUs; op.planEndUs = op.startUs }
      if (traced) {
        sc.clearJobGroup()
        op.pinsCreated = sc.getPersistentRDDs.keys.count(!pinsBefore(_))
      }
    }
    op
  }

  /** [[timed]] that records a failure instead of rethrowing it. */
  def attempt(name: String, kind: String, pass: Int)(body: OpCtx => Unit): Op =
    try timed(name, kind, pass)(body)
    catch { case NonFatal(_) => ops.last }

  /** A PipelineRunner stage whose every attempt is one timed operation. */
  def wrap(st: PipelineRunner.Stage, pass: Int): PipelineRunner.Stage =
    st.copy(run = () => timed(st.name, "stage", pass)(_ => st.run()))
}

/** Counts micro-batches in every run; they are operations too. */
final class BatchCounter extends StreamingQueryListener {
  @volatile var batches = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    batches += 1
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Benchmark entry point. One client, one fresh JVM, closed loop: the
  * next operation starts when the previous one has returned.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --inputs DIR --work DIR --result FILE [--queries a,b,..]
  *             [--probe 1]
  *
  * With `--probe 1` it only sets up, as the run would, and writes when
  * its SparkSession was ready and when the first operation would start.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val inputs = kv("inputs")
    val work = kv("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = Clock.us()
    val counter = new BatchCounter
    spark.streams.addListener(counter)
    val recorder = if (traced) Some(new Recorder(spark)) else None
    recorder.foreach(_.start())
    val runner = new Runner(spark, traced)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val info = mutable.LinkedHashMap.empty[String, Any]
    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def pass(k: Int)(body: => Unit): Unit = {
      val g0 = gcMs()
      val s = Clock.us()
      body
      passes += Pass(k, s, Clock.us(), gcMs() - g0)
    }

    val wl = new Workloads(spark, runner, recorder, seed, inputs, work,
      kv.get("queries").map(_.split(",").toSeq).getOrElse(Nil))
    val (body, minPasses): (Int => Unit, Int) = workload match {
      case "query_mix" => (wl.queryPass, 2)
      case "pipelines" => ({ p => wl.cmapssPass(p); wl.corpusPass(p) }, 1)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val firstOpUs = Clock.us()
    // A set-up probe stops where the measured phase would start.
    if (kv.get("probe").contains("1")) {
      val w = new PrintWriter(kv("result"), "UTF-8")
      try w.println(Json(Map("session_us" -> sessionUs, "first_op_us" -> firstOpUs)))
      finally w.close()
      spark.stop()
      return
    }
    val deadlineUs = firstOpUs + (seconds * 1e6).toLong
    // The minimum passes, then another only while the last one would
    // still fit in the measuring time.
    var k = 0
    while (k < minPasses ||
        Clock.us() + (passes.last.endUs - passes.last.startUs) <= deadlineUs) {
      pass(k)(body(k))
      k += 1
    }
    val measureEndUs = Clock.us()
    wl.finish(info)

    // Storage held by cached blocks at the end of the measured phase.
    val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    info("cache_bytes") = cacheBytes
    info("micro_batches") = counter.batches
    recorder.foreach { r =>
      r.stop()
      info("blocks_evicted") = r.blocksEvicted
      info("phases") = r.phases.asScala.toSeq.map { case (n, s, e) => Seq(n, s, e) }
      val spans = SpanTree.build(runner.ops.toSeq, r)
      val w = new PrintWriter(kv("spans"), "UTF-8")
      try spans.foreach(s => w.println(Json(Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "layer" -> s.layer,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs))))
      finally w.close()
    }
    val result = Map(
      "env" -> Map(
        "nproc" -> cores,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "heap_arg" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-Xmx")).mkString(" "),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "seed" -> seed, "workload" -> workload, "inputs" -> inputs, "traced" -> traced),
      "jvm_start_us" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000L,
      "session_us" -> sessionUs,
      "first_op_us" -> firstOpUs,
      "measure_end_us" -> measureEndUs,
      "passes" -> passes.map(p => Map("pass" -> p.index, "start_us" -> p.startUs,
        "end_us" -> p.endUs, "gc_ms" -> p.gcMs)),
      "ops" -> runner.ops.map(o => Map(
        "id" -> o.id, "name" -> o.name, "kind" -> o.kind, "pass" -> o.pass,
        "start_us" -> o.startUs, "build_end_us" -> o.buildEndUs,
        "plan_end_us" -> o.planEndUs, "end_us" -> o.endUs, "ok" -> o.ok,
        "error" -> o.error, "pins_created" -> o.pinsCreated)),
      "info" -> info.toMap)
    val w = new PrintWriter(kv("result"), "UTF-8")
    try w.println(Json(result)) finally w.close()
    spark.stop()
  }
}

/** The workloads' passes. Each pass is a list of timed operations; what
  * the output checks need is collected on the side and written by
  * [[finish]] after measuring.
  */
final class Workloads(spark: SparkSession, runner: Runner, recorder: Option[Recorder],
    seed: Long, inputs: String, work: String, queries: Seq[String]) {

  // ------------------------------------------------------ query_mix
  // The cold pass's DataFrames, whose rows [[finish]] collects for the
  // output check after measuring.
  private val coldFrames = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Every query once: in registry-list order cold, in a seeded order
    * warm. A query is timed as graft.Bench.runFull times it in every
    * pass: construction, then full consumption of its physical plan's
    * RDD, drained on the executors.
    */
  def queryPass(k: Int): Unit = {
    val order = if (k == 0) queries else new scala.util.Random(seed * 1000 + k).shuffle(queries)
    order.foreach { n =>
      runner.attempt(n, "query", k) { ctx =>
        val df = SparkEntry.queries(n)(spark, s"$inputs/wh")
        ctx.built(df)
        df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        if (k == 0) coldFrames(n) = df
        recorder.foreach(_.record(df.queryExecution))
      }
    }
  }

  // --------------------------------------------------- CMAPSS flow
  private val wh = s"$work/warehouse"
  private var sensors = Seq.empty[String]
  private var metrics: MlPipeline.Metrics = null
  private val dashboard = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]

  /** The paper's flow: two-pass ETL into the warehouse, train and score
    * on a unit split, then the dashboard measures read back.
    */
  def cmapssPass(p: Int): Unit = {
    val datasets = new File(s"$inputs/cmapss").list().toSeq.sorted
      .collect { case f if f.startsWith("train_") =>
        EtlJob.DatasetInput(f.stripPrefix("train_").stripSuffix(".txt"), s"$inputs/cmapss/$f")
      }
    PipelineRunner.run(Seq(
      PipelineRunner.Stage("etl", 2, () => runner.timed("etl", "stage", p) { _ =>
        sensors = EtlJob.run(spark, EtlJob.Config(datasets, warehouseDir = wh)).sensors
      }),
      PipelineRunner.Stage("train_score", 2, () => runner.timed("train_score", "stage", p) { ctx =>
        val feat = TableIO.readTable(spark, s"$wh/cycles_features")
        val isTest = col("unit_nr") % 5 === 0
        val (pred, m) = MlPipeline.trainAndScore(
          feat.filter(!isTest), feat.filter(isTest), sensors, "rul")
        metrics = m
        ctx.built(pred)
        TableIO.writeTable(pred, s"$wh/ml_predictions", overwrite = true,
          sortCols = Seq("unit_nr", "cycle"))
      }),
      PipelineRunner.Stage("dashboard", 2, () => runner.timed("dashboard", "stage", p) { ctx =>
        val feat = TableIO.readTable(spark, s"$wh/cycles_features")
        val pred = TableIO.readTable(spark, s"$wh/ml_predictions")
        val truth = CmapssReader.readRul(spark, s"$inputs/cmapss/RUL_FD001.txt")
        val frames = Seq(
          "measures" -> feat.agg(Measures.totalUnits, Measures.totalCycles,
            Measures.maxCycles, Measures.avgRul, Measures.criticalPct()),
          "avg_unit_max" -> Measures.avgUnitMax(feat, "time_cycles"),
          "predicted_buckets" -> pred
            .groupBy(RulBuckets.bucket(col("predicted_rul")).as("bucket")).count(),
          "truth_buckets" -> truth
            .groupBy(RulBuckets.bucket(col("rul_true")).as("bucket")).count(),
          "rollup" -> MlPipeline.metricRollup(pred))
        ctx.built(frames.map(_._2): _*)
        frames.foreach { case (n, df) => dashboard(n) = df.collect().toSeq.map(_.toSeq) }
      })))
  }

  // --------------------------------------------------- corpus flow
  private val batchWh = s"$work/corpus/batch"
  private val streamWh = s"$work/corpus/stream"
  // The streaming twin runs its own PipelineRunner stages; their
  // outcomes are operations too.
  private val streamReports = mutable.ArrayBuffer.empty[PipelineRunner.RunReport]
  private val summary = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]

  /** The corpus batch flow, its streaming twin on the same corpus, and a
    * report read back from the packed output. Every pass starts from
    * empty warehouses, outside any timed operation.
    */
  def corpusPass(p: Int): Unit = {
    Seq(batchWh, streamWh).foreach(d => Workloads.deleteTree(new File(d)))
    PipelineRunner.run(
      (CorpusPipeline.ingestStages(spark, s"$inputs/corpus/jsonl", batchWh) ++
        CorpusPipeline.downstreamStages(spark, batchWh)).map(runner.wrap(_, p)))
    runner.attempt("stream", "stream", p) { _ =>
      val r = CorpusPipeline.runStreamingTwin(spark, s"$inputs/corpus/drops", streamWh)
      streamReports += r
      require(r.succeeded, s"streaming twin failed: $r")
    }
    runner.attempt("report", "stage", p) { ctx =>
      val packed = spark.read.parquet(s"$batchWh/packed/sequences.parquet")
      val splits = spark.read.parquet(s"$batchWh/splits/assignments.parquet")
      val frames = Seq(
        "splits" -> splits.groupBy("split").count(),
        "packed" -> packed.agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"),
          countDistinct("shard", "seq_idx").as("sequences")))
      ctx.built(frames.map(_._2): _*)
      frames.foreach { case (n, df) => summary(n) = df.collect().toSeq.map(_.toSeq) }
    }
  }

  /** Record what the checks need; write query outputs for DuckDB. Runs
    * after measuring.
    */
  def finish(info: mutable.Map[String, Any]): Unit = {
    if (queries.nonEmpty)
      info("oracle") = queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    // Re-executes each cold plan: the rows checked are those of the
    // physical plan the cold pass timed.
    coldFrames.foreach { case (n, df) =>
      val rs = df.queryExecution.toRdd.map(_.copy()).collect()
      Glue.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(df.schema), rs.toSeq))
        .coalesce(1).write.mode("overwrite").parquet(s"$work/out/$n")
    }
    info("sensors") = sensors
    if (metrics != null)
      info("ml") = Map("rmse" -> metrics.rmse, "mae" -> metrics.mae, "r2" -> metrics.r2)
    info("dashboard") = dashboard.toMap
    info("stream_stage_reports") = streamReports.flatMap(_.stages).map(s =>
      Map("name" -> s.name, "attempts" -> s.attempts, "outcome" -> s.outcome.toString))
    info("summary") = summary.toMap
  }
}

object Workloads {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
