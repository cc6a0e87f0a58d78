package graft

import java.nio.file.Files

import graft.pipeline._
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Golden tests against the real CMAPSS FD001 file shipped with the
  * reference (public NASA dataset, read-only input) + the two-pass ETL
  * protocol on a temp warehouse.
  */
class CmapssPipelineSpec extends GraftSuite {

  private val fd001 = "/root/reference/data/raw/train_FD001.txt"
  private val fd001Rul = "/root/reference/data/raw/RUL_FD001.txt"
  private lazy val haveData = new java.io.File(fd001).exists()

  test("golden: FD001 parses to 20631 rows x 100 units, 26+1 columns") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    assert(df.columns.length == 1 + 26) // dataset + 5 base + 21 sensors
    assert(df.count() == 20631)
    assert(df.select(countDistinct(col("unit_nr"))).first().getLong(0) == 100)
  }

  test("golden: FD001 constant sensors are exactly 1,5,10,16,18,19") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val variable = SensorStats.variableSensors(df, CmapssSchema.sensorCols())
    val constant = CmapssSchema.sensorCols().toSet -- variable.toSet
    assert(constant == Set("sensor1", "sensor5", "sensor10", "sensor16",
      "sensor18", "sensor19"))
  }

  test("golden: unit 1 has 192 cycles so rul(1,1) = 191") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val feat = FeatureEngineering.features(df, Seq("sensor2"))
    val r = feat.filter(col("unit_nr") === 1 && col("time_cycles") === 1)
      .select("rul").first().getInt(0)
    assert(r == 191)
  }

  test("golden: RUL file positional join assigns unit_nr by line order") {
    assume(haveData)
    val rul = CmapssReader.readRul(spark, fd001Rul)
    assert(rul.count() == 100)
    assert(rul.filter(col("unit_nr") === 1).first().getInt(0) == 112)
  }

  test("feature frame: rolling means respect min_periods=1 and z guard") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val feat = FeatureEngineering.features(df, Seq("sensor2", "sensor1"))
      .filter(col("unit_nr") === 1).orderBy("time_cycles")
    val first = feat.first()
    // first row: mean5 == raw value; d_ null; z of constant sensor1 null
    assert(first.getDouble(first.fieldIndex("mean5_sensor2")) ==
      first.getDouble(first.fieldIndex("sensor2")))
    assert(first.isNullAt(first.fieldIndex("d_sensor2")))
    assert(first.isNullAt(first.fieldIndex("z_sensor1")))
  }

  test("EtlJob two-pass: forced common sensor set + replace/append union") {
    assume(haveData)
    val out = Files.createTempDirectory("graft_etl").toString
    val fd003 = "/root/reference/data/raw/test_FD003.txt"
    assume(new java.io.File(fd003).exists())
    val cfg = EtlJob.Config(
      datasets = Seq(EtlJob.DatasetInput("FD001", fd001),
        EtlJob.DatasetInput("FD003", fd003)),
      warehouseDir = out)
    val res = EtlJob.run(spark, cfg)
    // intersection semantics: sensor10 varies in FD003 but not FD001 ->
    // excluded from the common set
    assert(!res.sensors.contains("sensor10"))
    assert(res.sensors.contains("sensor2"))
    val warehouse = TableIO.readTable(spark, s"$out/cycles_raw")
    assert(warehouse.count() == res.rowsPerDataset.values.sum)
    assert(warehouse.select(countDistinct(col("dataset"))).first().getLong(0) == 2)
    // partition pruning: dataset filter reads one partition only
    val one = warehouse.filter(col("dataset") === "FD001").count()
    assert(one == res.rowsPerDataset("FD001"))
  }

  test("dbt partition-key bug is reproducible via the partitionKey param") {
    // SURVEY §2.6 caution: the dbt model partitions by unit_nr only, so
    // appended datasets mix engines. With two datasets loaded, the buggy
    // key must produce different rul values than the correct key.
    assume(haveData)
    val fd003 = "/root/reference/data/raw/test_FD003.txt"
    assume(new java.io.File(fd003).exists())
    val both = CmapssReader.read(spark, fd001, "FD001")
      .unionByName(CmapssReader.read(spark, fd003, "FD003"))
    val correct = FeatureEngineering.features(both, Seq("sensor2"))
      .select("dataset", "unit_nr", "time_cycles", "rul")
    val buggy = FeatureEngineering.features(both, Seq("sensor2"),
      partitionKey = Seq("unit_nr"))
      .select("dataset", "unit_nr", "time_cycles", "rul")
    val diffs = correct.withColumnRenamed("rul", "rul_ok")
      .join(buggy.withColumnRenamed("rul", "rul_bug"),
        Seq("dataset", "unit_nr", "time_cycles"))
      .filter(col("rul_ok") =!= col("rul_bug")).count()
    assert(diffs > 0, "buggy partition key should mix engines across datasets")
  }

  test("reader is robust to malformed lines (coerce to null, keep row)") {
    val tmp = java.nio.file.Files.createTempFile("graft_junk", ".txt")
    java.nio.file.Files.writeString(tmp,
      "1 1 0.5 0.6 100 641.82 abc 1587.99\n" + // junk sensor2
        "\n" + // blank line dropped
        " \t  \n" + // whitespace-only line dropped
        "2 1 0.1 0.2 100 642.0 1588.0 1400.0 extra extra extra\n" +
        "3 1 0.1\n" + // short row: trailing fields null
        "\t4 2 0.1 0.2 100 642.0 1588.0 1400.0\n") // tab-led: no shift
    val df = CmapssReader.read(spark, tmp.toString, "T", nSensors = 3)
    val rows = df.orderBy("unit_nr").collect()
    assert(rows.length == 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("sensor2"))) // 'abc' -> null
    assert(rows(1).getDouble(rows(1).fieldIndex("sensor3")) == 1400.0)
    val short = rows(2)
    assert(short.getInt(short.fieldIndex("time_cycles")) == 1)
    assert(short.getDouble(short.fieldIndex("setting1")) == 0.1)
    assert(Seq("setting2", "setting3", "sensor1", "sensor2", "sensor3")
      .forall(c => short.isNullAt(short.fieldIndex(c))))
    assert(rows(3).getInt(rows(3).fieldIndex("time_cycles")) == 2)
    assert(rows(3).getDouble(rows(3).fieldIndex("sensor3")) == 1400.0)
  }

  test("reader casts only the tokens a query keeps") {
    val tmp = Files.createTempFile("graft_prune", ".txt")
    Files.writeString(tmp, "1 1 0.5 0.6 100 641.82 1589.7 1400.6\n")
    val plan = CmapssReader.read(spark, tmp.toString, "T", nSensors = 3)
      .select("unit_nr", "sensor2").queryExecution.optimizedPlan
    val casts = plan.collect { case p: Project =>
      p.projectList.flatMap(_.collect { case c: Cast => c })
    }.flatten
    assert(casts.size == 2, plan.treeString)
  }

  test("reader splits a file by byte range and returns every line once") {
    val tmp = Files.createTempFile("graft_split", ".txt")
    Files.writeString(tmp,
      (1 to 500).map(i => s"$i 1 ${i * 0.25} 0 0").mkString("\n"))
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "64") {
      val df = CmapssReader.read(spark, tmp.toString, "T", nSensors = 0)
      assert(df.rdd.getNumPartitions > 5,
        s"expected many splits, got ${df.rdd.getNumPartitions}")
      val got = df.select("unit_nr", "setting1").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).sorted.toSeq
      assert(got == (1 to 500).map(i => (i, i * 0.25)))
    }
  }

  test("reader fails on a missing path or an empty glob") {
    val dir = Files.createTempDirectory("graft_missing")
    Seq(dir.resolve("absent.txt").toString, s"$dir/*.nothing").foreach { p =>
      val e = intercept[AnalysisException](
        CmapssReader.read(spark, p, "T").collect())
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains(p), e.getMessage)
    }
  }

  test("units_summary and measures shapes") {
    assume(haveData)
    val df = CmapssReader.read(spark, fd001, "FD001")
    val us = UnitsSummary(df)
    assert(us.count() == 100)
    val row = us.filter(col("unit_nr") === 1).first()
    assert(row.getInt(row.fieldIndex("cycles_min")) == 1)
    assert(row.getInt(row.fieldIndex("cycles_max")) == 192)
    assert(row.getLong(row.fieldIndex("cycles_count")) == 192L)
    val feat = FeatureEngineering.features(df, Seq("sensor2"))
    val m = feat.agg(Measures.totalUnits, Measures.avgRul,
      Measures.criticalPct()).first()
    assert(m.getLong(0) == 100)
    assert(m.getDouble(2) > 0 && m.getDouble(2) < 1)
  }
}
