package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one parser for headerless whitespace-separated text,
  * `Tables.parseText`, under a caller-given schema: null and blank-line
  * semantics of a plain `spark.read.text` source.
  */
class SourcesSpec extends GraftSuite {

  private def writeFixture(name: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(s"gtext-$name")
    Files.write(Paths.get(dir.toString, "part-0.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("malformed tokens, short rows and blank lines follow try_cast") {
    val dir = writeFixture("nulls", Seq(
      "1 2 3",
      "4 oops 6",   // middle unparseable -> NULL
      "7 8",        // short row -> trailing NULL
      "",           // blank -> skipped
      "   ",        // whitespace-only -> skipped
      "9 10 11 12", // extra token ignored by a 3-col schema
      "13 14 15"))
    val schema = StructType.fromDDL("a DOUBLE, b DOUBLE, c DOUBLE")
    def load() = Tables.parseText(spark.read.text(dir), schema)
    val rows = load().collect().map(r => (0 to 2).map(i =>
      if (r.isNullAt(i)) None else Some(r.getDouble(i))))
      .sortBy(_.head.getOrElse(Double.MaxValue))
    assert(rows.length == 5)
    assert(rows(1) == Seq(Some(4.0), None, Some(6.0)))
    assert(rows(2) == Seq(Some(7.0), Some(8.0), None))
    assert(rows(3) == Seq(Some(9.0), Some(10.0), Some(11.0)))
    // Three-valued logic on Not: NULL b must NOT pass NOT(b > 5).
    val notRows = load().filter(!(col("b") > 5.0)).collect()
    assert(notRows.map(_.getDouble(0)).sorted.toSeq == Seq(1.0))
  }
}
