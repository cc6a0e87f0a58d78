package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** CMAPSS-domain schema constants (reference: scripts/etl_turbofan.py:5-6;
  * sql/sqlite_ddl.sql:3-12). Positional column names for the headerless
  * whitespace files, 26 reserved sensor slots, 21 loaded by default.
  */
object CmapssSchema {
  val keyCols: Seq[String] = Seq("unit_nr", "time_cycles")
  val settingCols: Seq[String] = Seq("setting1", "setting2", "setting3")
  def sensorCols(n: Int = 21): Seq[String] = (1 to n).map(i => s"sensor$i")
  def colNames(nSensors: Int = 21): Seq[String] =
    keyCols ++ settingCols ++ sensorCols(nSensors)
  val MaxCols = 26 // DDL reserves sensor1..26 (sql/sqlite_ddl.sql:3-12)
}

/** S1/S2 sources (reference: scripts/etl_turbofan.py:10-19 and
  * scripts/ml_pipeline.py:190-191): headerless whitespace text with
  * positional names, truncation to the reserved width, int-cast keys and
  * null-coercing numeric parses; RUL files with positional unit keys.
  */
object CmapssReader {

  /** Read a CMAPSS train/test file: whitespace-separated, no header,
    * extra trailing columns truncated, invalid numerics → null.
    */
  def read(spark: SparkSession, path: String, dataset: String,
      nSensors: Int = 21): DataFrame = {
    val schema = StructType(CmapssSchema.colNames(nSensors).map(n =>
      StructField(n,
        if (CmapssSchema.keyCols.contains(n)) IntegerType else DoubleType)))
    graft.Tables.parseText(spark.read.text(path), schema)
      .select(lit(dataset).as("dataset") +: schema.fieldNames.toSeq.map(col): _*)
  }

  /** Read a RUL ground-truth file: one integer per line; unit_nr is the
    * 1-based line position (SURVEY §7.4.9: single-partition read keeps
    * file order deterministic — RUL files are ~100-260 lines).
    */
  def readRul(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .coalesce(1)
      .select(trim(col("value")).cast("int").as("rul_true"))
      .withColumn("unit_nr",
        row_number().over(Window.orderBy(monotonically_increasing_id())))
}

/** P6/A13/U2 statistics passes (reference: scripts/etl_turbofan.py:74-78,
  * 179-206; scripts/ml_pipeline.py:238): data-dependent plan parameters.
  * Each pass is one distributed agg job returning scalars to the driver —
  * never row data (SURVEY §7.4.12).
  */
object SensorStats {

  /** Sensors with more than one distinct non-null value. */
  def variableSensors(df: DataFrame, sensors: Seq[String]): Seq[String] = {
    val aggs = sensors.map(c => countDistinct(col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    sensors.filter(c => row.getLong(row.fieldIndex(c)) > 1)
  }

  /** Intersection of variable sensors across datasets, sorted — the
    * forced common schema of multi-dataset runs (etl_turbofan.py:196-204).
    */
  def commonVariableSensors(dfs: Seq[DataFrame], sensors: Seq[String]): Seq[String] =
    dfs.map(df => variableSensors(df, sensors).toSet)
      .reduce(_ intersect _).toSeq.sortBy(s => s.stripPrefix("sensor").toInt)
}

/** The reference's feature engine (W1–W5) as one reusable function:
  * rul, rolling means, first differences and z-scores for a sensor set,
  * emitted as a single select over shared windows → exactly one
  * Exchange(partitionKey) + Sort(orderCol) feeds one WindowExec chain
  * regardless of sensor count (SURVEY §4).
  *
  * partitionKey is a parameter so the dbt variant's unit_nr-only
  * partitioning bug can be reproduced for comparison (SURVEY §2.6
  * caution); default is the correct (dataset, unit_nr).
  */
object FeatureEngineering {

  def features(df: DataFrame, sensors: Seq[String],
      windows: Seq[Int] = Seq(5, 20),
      partitionKey: Seq[String] = Seq("dataset", "unit_nr"),
      orderCol: String = "time_cycles"): DataFrame = {
    val wp = Window.partitionBy(partitionKey.map(col): _*)
    val wo = wp.orderBy(col(orderCol))
    val rul = (max(col(orderCol)).over(wp) - col(orderCol)).as("rul")
    val rolled = for { w <- windows; c <- sensors } yield
      avg(col(c)).over(wo.rowsBetween(-(w - 1), 0)).as(s"mean${w}_$c")
    val diffs = sensors.map(c => (col(c) - lag(col(c), 1).over(wo)).as(s"d_$c"))
    val zs = sensors.map { c =>
      val sd = stddev_pop(col(c)).over(wp)
      when(sd =!= 0, (col(c) - avg(col(c)).over(wp)) / sd).as(s"z_$c")
    }
    val base = df.columns.map(col).toSeq
    df.select(base ++ Seq(rul) ++ rolled ++ diffs ++ zs: _*)
  }
}

/** A1 units_summary (etl_turbofan.py:130-133). */
object UnitsSummary {
  def apply(df: DataFrame,
      key: Seq[String] = Seq("dataset", "unit_nr"),
      orderCol: String = "time_cycles"): DataFrame =
    df.groupBy(key.map(col): _*).agg(
      min(col(orderCol)).as("cycles_min"),
      max(col(orderCol)).as("cycles_max"),
      count(lit(1)).as("cycles_count"))
}

/** The DAX/dashboard measure set (dashboard/dax-measures; SURVEY §2.5)
  * as named Column definitions over a feature frame.
  */
object Measures {
  val totalUnits: Column = countDistinct(col("unit_nr")).as("total_units")
  val totalCycles: Column = count(lit(1)).as("total_cycles")
  val maxCycles: Column = max(col("time_cycles")).as("max_cycles")
  val avgRul: Column = avg(col("rul")).as("avg_rul")
  def criticalPct(threshold: Int = 30): Column =
    avg(when(col("rul") < threshold, 1.0).otherwise(0.0)).as("critical_pct")

  /** AVERAGEX(SUMMARIZE(...)) — avg over per-unit maxima. */
  def avgUnitMax(df: DataFrame, valueCol: String,
      key: Seq[String] = Seq("dataset", "unit_nr")): DataFrame =
    df.groupBy(key.map(col): _*).agg(max(col(valueCol)).as("mx"))
      .agg(avg(col("mx")).as(s"avg_unit_max_$valueCol"))
}

/** P11 RUL bucketing (dashboard/dax-measures:36-46). */
object RulBuckets {
  def bucket(rul: Column): Column =
    when(rul.isNull, "Unknown")
      .when(rul < 30, "<30")
      .when(rul < 60, "30-59")
      .when(rul < 120, "60-119")
      .otherwise(">=120")
}
