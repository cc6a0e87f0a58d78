package graftbench

import java.nio.file.Files

import scala.sys.process._

import graft.pipeline.{CmapssReader, CmapssSchema, SensorStats}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The CMAPSS-shaped generator (gen_cmapss.py) against the library's own
  * reader and sensor statistics. Run with `sbt test` in perfbench/.
  */
class CmapssGeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  private def generate(seed: Int): (String, String) = {
    val dir = Files.createTempDirectory("cmapss_gen").toFile
    dirs += dir
    val info = Seq("python3", "gen_cmapss.py", dir.toString, seed.toString, "5").!!
    (dir.toString, info)
  }

  override def afterAll(): Unit = dirs.foreach(Workloads.deleteTree)

  test("SensorStats.variableSensors finds exactly the generated variable sensors") {
    val (dir, info) = generate(11)
    val constant = """"constant_sensors": \[([0-9, ]*)\]""".r
      .findFirstMatchIn(info).get.group(1).split(",").map(_.trim.toInt).toSet
    assert(constant.size == 6)
    val expected = (1 to 21).filterNot(constant).map(i => s"sensor$i")
    for (d <- Seq("FD001", "FD002", "FD003", "FD004")) {
      val df = CmapssReader.read(spark, s"$dir/train_$d.txt", d)
      assert(SensorStats.variableSensors(df, CmapssSchema.sensorCols(21)) == expected, d)
    }
  }

  test("every line has the 26 positional columns the reader names") {
    val (dir, _) = generate(12)
    val df = CmapssReader.read(spark, s"$dir/train_FD002.txt", "FD002", 21)
    assert(df.columns.length == 1 + CmapssSchema.colNames(21).length)
    assert(CmapssSchema.colNames(21).length == 26)
    val widths = spark.read.text(s"$dir/train_FD002.txt")
      .selectExpr("size(split(trim(value), '\\\\s+')) AS w").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(widths == Set(26))
    // no field failed to parse
    assert(df.na.drop().count() == df.count())
  }

  test("the same seed produces byte-identical files") {
    val (a, _) = generate(13)
    val (b, _) = generate(13)
    for (f <- new java.io.File(a).list())
      assert(java.util.Arrays.equals(
        Files.readAllBytes(java.nio.file.Paths.get(a, f)),
        Files.readAllBytes(java.nio.file.Paths.get(b, f))), f)
  }
}
