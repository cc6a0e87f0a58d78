package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The mains' shared subset rule and JSON writer. No Spark session. */
class HarnessSpec extends AnyFunSuite {

  test("subset selection is by exact name") {
    // g4_jaccard is a prefix of g4_jaccard_capped: a substring match
    // would run both.
    assert(Harness.select(Seq("g4_jaccard")) == Seq("g4_jaccard"))
    assert(Harness.select(Seq("tpch_q1", "g4_jaccard", "tpch_q1")) ==
      Seq("g4_jaccard", "tpch_q1"))
    assert(Harness.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("an unknown query name throws, naming it") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("tpch_q1", "g4_jacard")))
    assert(e.getMessage.contains("g4_jacard"))
  }

  test("a written object with quotes, backslashes and control chars " +
      "parses back unchanged") {
    val nasty = "/tmp/a\"b\\c\nd\re\tf\u0001g\u001fh"
    val json = Harness.obj(Seq(
      "sf" -> Harness.str(nasty), nasty -> Harness.str("k"),
      "flags" -> Harness.arr(Seq(nasty, "plain")),
      "x" -> Harness.num(1.23456), "nan" -> Harness.num(Double.NaN)))
    val back = new ObjectMapper().readTree(json)
    assert(back.get("sf").asText == nasty)
    assert(back.get(nasty).asText == "k")
    assert(back.get("flags").elements.asScala.map(_.asText).toSeq ==
      Seq(nasty, "plain"))
    assert(back.get("x").asDouble == 1.235)
    assert(back.get("nan").isNull)
  }
}
