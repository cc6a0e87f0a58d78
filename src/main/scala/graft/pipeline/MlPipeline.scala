package graft.pipeline

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, GBTRegressor,
  LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark.ml mirror of the reference's ML surface (SURVEY §2.11;
  * scripts/ml_pipeline.py:229-457): feature assembly, scaling, linear
  * regression, clamped predictions, RMSE/MAE/R² evaluation, and the
  * ml_predictions result shape (scripts/ml_pipeline.py:651-667).
  *
  * Distributed end to end: VectorAssembler/StandardScaler are narrow
  * transforms; LinearRegression with the "normal" solver is one
  * treeAggregate pass — no driver-side row data.
  */
object MlPipeline {

  case class Metrics(rmse: Double, mae: Double, r2: Double)

  /** Train y ~ features with scaling, score, clamp at 0 (P9:
    * ml_pipeline.py:440), and emit the ml_predictions-shaped frame +
    * metrics.
    */
  /** The canonical scaled linear-regression pipeline — shared by
    * [[trainAndScore]] and the model-comparison table so both always
    * train the same "linear_regression".
    */
  private def lrPipeline(featureCols: Seq[String], labelCol: String): Pipeline =
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(featureCols.toArray)
        .setOutputCol("rawFeatures").setHandleInvalid("skip"),
      new StandardScaler().setInputCol("rawFeatures").setOutputCol("features"),
      new LinearRegression().setFeaturesCol("features").setLabelCol(labelCol)
        .setSolver("normal").setRegParam(0.0)))

  def trainAndScore(train: DataFrame, test: DataFrame, featureCols: Seq[String],
      labelCol: String, modelName: String = "linear_regression")
      : (DataFrame, Metrics) = {
    val model = lrPipeline(featureCols, labelCol).fit(train)
    val scored = model.transform(test)
      .withColumn("predicted", greatest(col("prediction"), lit(0.0)))
    val metrics = Metrics(
      evalMetric(scored, labelCol, "rmse"),
      evalMetric(scored, labelCol, "mae"),
      evalMetric(scored, labelCol, "r2"))
    val predictions = scored.select(
      col("unit_nr"), col("time_cycles").as("cycle"), col("dataset"),
      lit(modelName).as("model_name"),
      col("predicted").as("predicted_rul"),
      col(labelCol).as("actual_rul"),
      abs(col(labelCol) - col("predicted")).as("absolute_error"),
      pow(col(labelCol) - col("predicted"), 2).as("squared_error"))
      // P12 (ml_pipeline.py:660; DDL DEFAULT CURRENT_TIMESTAMP): stamp at
      // write time; excluded from determinism-sensitive comparisons.
      .withColumn("prediction_timestamp", current_timestamp())
    (predictions, metrics)
  }

  private def evalMetric(scored: DataFrame, labelCol: String,
      metric: String): Double =
    new RegressionEvaluator().setLabelCol(labelCol)
      .setPredictionCol("predicted").setMetricName(metric).evaluate(scored)

  /** A10 rollup over a predictions table (ml_pipeline_gpu.py:795-816). */
  def metricRollup(predictions: DataFrame): DataFrame =
    predictions.groupBy("model_name", "dataset").agg(
      count(lit(1)).as("n"),
      avg(col("absolute_error")).as("avg_absolute_error"),
      sqrt(avg(col("squared_error"))).as("rmse"))
      .orderBy("avg_absolute_error")

  // ---------------------------------------------- multi-model comparison

  private def assembler(featureCols: Seq[String]) =
    new VectorAssembler().setInputCols(featureCols.toArray)
      .setOutputCol("features").setHandleInvalid("skip")

  /** The four candidate pipelines of the reference's model-comparison
    * table (scripts/ml_pipeline.py:262-457; README.md model table),
    * re-expressed in spark.ml: linear regression (scaled, as the
    * reference scales only the linear model), a single tree, a
    * grid-search-cross-validated random forest, and gradient-boosted
    * trees standing in for XGBoost. Tree ensembles train distributed
    * (per-tree treeAggregate passes); only the (tiny) fitted model comes
    * back to the driver.
    */
  def candidateModels(featureCols: Seq[String], labelCol: String)
      : Seq[(String, org.apache.spark.ml.Estimator[_])] = {
    val asm = assembler(featureCols)
    val lr = lrPipeline(featureCols, labelCol)
    val dt = new Pipeline().setStages(Array(asm,
      new DecisionTreeRegressor().setFeaturesCol("features")
        .setLabelCol(labelCol).setMaxDepth(8).setSeed(42)))
    // Grid-search CV over the forest, mirroring the reference's
    // GridSearchCV(cv=3, rmse) mechanism (scripts/ml_pipeline.py:300-339)
    // with a bounded grid: depth is the dominant knob. setParallelism
    // trains folds concurrently — the cluster-scale shape where each fit
    // is itself distributed.
    val rfPipe = new Pipeline().setStages(Array(asm,
      new RandomForestRegressor().setFeaturesCol("features")
        .setLabelCol(labelCol).setNumTrees(20).setSeed(42)))
    val rfGrid = new ParamGridBuilder()
      .addGrid(rfPipe.getStages(1).asInstanceOf[RandomForestRegressor].maxDepth,
        Array(4, 8))
      .build()
    val rfCv = new CrossValidator().setEstimator(rfPipe)
      .setEvaluator(new RegressionEvaluator().setLabelCol(labelCol)
        .setPredictionCol("prediction").setMetricName("rmse"))
      .setEstimatorParamMaps(rfGrid).setNumFolds(3).setSeed(42)
      .setParallelism(6)
    val gbt = new Pipeline().setStages(Array(asm,
      new GBTRegressor().setFeaturesCol("features").setLabelCol(labelCol)
        .setMaxIter(10).setMaxDepth(4).setSeed(42)))
    Seq("linear_regression" -> lr, "decision_tree" -> dt,
      "random_forest_cv" -> rfCv, "gbt" -> gbt)
  }

  /** Train every candidate on `train`, score `test`, and emit the
    * model-comparison rollup (one row per model: n, rmse, mae, r2) —
    * the reference's README model table as a query result.
    */
  def modelCompare(train: DataFrame, test: DataFrame,
      featureCols: Seq[String], labelCol: String): DataFrame =
    compareCandidates(candidateModels(featureCols, labelCol),
      train, test, labelCol)

  /** The fit/score/evaluate engine behind [[modelCompare]], with the
    * candidate list and timeout injectable (specs drive failing and
    * hanging candidates through it). The four candidates are
    * independent: they train concurrently from driver threads (Spark
    * schedules the jobs side by side — the same pattern
    * CrossValidator.parallelism uses internally), so wall time is the
    * slowest candidate, not the sum. Failure containment: a candidate
    * that throws, or whose fit outlives `timeout`, yields a row with
    * null n/metrics instead of poisoning the whole comparison — one
    * wedged fit previously meant Await(Duration.Inf) blocked the query
    * forever. The scored frame is persisted ONCE per candidate: count +
    * three evaluator passes would otherwise re-execute transform (and
    * re-read the test slice) four times per model.
    */
  private[graft] def compareCandidates(
      candidates: Seq[(String, org.apache.spark.ml.Estimator[_])],
      train: DataFrame, test: DataFrame, labelCol: String,
      timeout: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.Duration(15, "min")): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // All candidates start at once; the awaits below then consume them
    // sequentially against ONE shared deadline (the slowest candidate
    // sets the wall time either way, so per-future slices would only
    // loosen the bound).
    // Every candidate's Spark jobs run under a dedicated job group:
    // interrupting the driver thread alone (shutdownNow) would leave a
    // timed-out fit's already-submitted stages running on the executors,
    // contending with whatever the caller measures next.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    def groupOf(name: String) = s"graft-modelCompare-$nonce-$name"
    val futures = candidates.map { case (name, est) =>
      name -> Future {
        s.sparkContext.setJobGroup(groupOf(name),
          s"modelCompare candidate $name", interruptOnCancel = true)
        try {
          val model = est.fit(train).asInstanceOf[org.apache.spark.ml.Model[_]]
          val scored = model.transform(test)
            .withColumn("predicted", greatest(col("prediction"), lit(0.0)))
            .persist()
          try {
            def m(metric: String) = evalMetric(scored, labelCol, metric)
            (scored.count(), Option(m("rmse")), Option(m("mae")), Option(m("r2")))
          } finally scored.unpersist()
        } finally s.sparkContext.clearJobGroup()
      }
    }
    val deadline = System.nanoTime() + timeout.toNanos
    val rows = try futures.map { case (name, f) =>
      val left = scala.concurrent.duration.Duration.fromNanos(
        math.max(0L, deadline - System.nanoTime()))
      val outcome =
        try { Await.ready(f, left); f.value.get }
        catch {
          case _: java.util.concurrent.TimeoutException =>
            s.sparkContext.cancelJobGroup(groupOf(name))
            scala.util.Failure(new RuntimeException(
              s"fit/score of $name exceeded $timeout"))
        }
      outcome match {
        case scala.util.Success((n, rmse, mae, r2)) =>
          (name, Option(n), rmse, mae, r2)
        case scala.util.Failure(e) =>
          System.err.println(s"[modelCompare] $name failed: ${e.getMessage}")
          (name, Option.empty[Long], Option.empty[Double],
            Option.empty[Double], Option.empty[Double])
      }
    } finally {
      pool.shutdownNow() // interrupt stragglers, not just drain
      // Reap any executor-side work of candidates that never finished.
      candidates.foreach { case (name, _) =>
        if (!futures.find(_._1 == name).get._2.isCompleted)
          s.sparkContext.cancelJobGroup(groupOf(name))
      }
    }
    rows.toDF("model_name", "n", "rmse", "mae", "r2")
      .select(col("model_name"), col("n"),
        round(col("rmse"), 6).as("rmse"), round(col("mae"), 6).as("mae"),
        round(col("r2"), 6).as("r2"))
      .orderBy("model_name")
  }

  /** Deterministic md5-bucket train/test split (partition-independent,
    * unlike randomSplit) over the events feature table — the driver-
    * facing surface for [[modelCompare]]. A user_id slice bounds train
    * size at any SF so grid-search cost stays fixed relative to corpus
    * growth (at 100 TB you tune on a sample, then fit the final model on
    * the full table).
    */
  def modelCompareQuery(s: SparkSession, d: String): DataFrame = {
    val feat = graft.operators.Windows.features(s, d)
      .filter(col("user_id") % 13 === 0)
      .na.drop(Seq("d_value", "z_value"))
    val bucket = conv(substring(md5(col("event_id").cast("string")), 1, 4),
      16, 10).cast("long") % 100
    // Persist the bucketed slice ONCE (train and test filter the same
    // cached frame): ten-plus fits (CV folds × grid + the other
    // candidates) would each re-execute the window-feature plan
    // otherwise, and two separate persisted filters would still
    // materialize that plan twice. The tuning slice is small by
    // construction, so a handful of partitions also cuts the
    // per-tree-iteration job overhead that dominates ensemble training
    // on tiny data.
    val withB = feat.withColumn("b", bucket).coalesce(4).persist()
    val train = withB.filter(col("b") < 80).drop("b")
    val test = withB.filter(col("b") >= 80).drop("b")
    try modelCompare(train, test,
      Seq("mean5_value", "mean20_value", "d_value", "z_value"),
      labelCol = "rul")
    finally withB.unpersist()
  }

  /** K4 model persistence (scripts/ml_pipeline.py:600-630 pickles models
    * and scalers): spark.ml writers round-trip the whole fitted pipeline
    * (assembler + scaler + model) through a directory.
    */
  def saveModel(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)
  def loadModel(path: String): PipelineModel = PipelineModel.load(path)

  val specs: Seq[graft.QuerySpec] = Seq(
    graft.QuerySpec("ml_model_compare", modelCompareQuery _,
      graft.Unchecked("tree-ensemble metrics are not SQL-reproducible; " +
        "the spec asserts metric floors and save/load equality"),
      growth = Some(graft.Exempt(40.0, 1.0,
        "CV model training: optimizer iteration count is data-" +
          "dependent, not a relational plan property"))))
}
