package graft

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** The scale gates' claims, checked on every run: each committed
  * `gate_*.json` artifact against its record's rule, and the work
  * contracts of the [[WorkGated]] queries at 1× and 10× of sf0.001 —
  * counted work, which is deterministic where a wall is not.
  */
class GatesSpec extends GraftSuite {
  private val mapper = new ObjectMapper()

  private def committed: Seq[Path] = {
    val files = Files.list(Paths.get("."))
    try files.iterator.asScala
      .filter(_.getFileName.toString.matches("gate_.*\\.json"))
      .toSeq.sortBy(_.toString)
    finally files.close()
  }

  private def fields(j: JsonNode): Seq[(String, JsonNode)] =
    j.properties.asScala.map(e => e.getKey -> e.getValue).toSeq

  private def strings(j: JsonNode): Seq[String] =
    j.elements.asScala.map(_.asText).toSeq

  private def rowsOf(gate: Gates.Gate, j: JsonNode): Map[String, Gates.Row] =
    fields(j.get("rows")).map { case (n, r) =>
      val work = Option(r.get("work_a")).map(wa =>
        (wa.asDouble, r.get("work_b").asDouble))
      n -> gate.row(r.get("a").asDouble, r.get("b").asDouble, work)
    }.toMap

  test("every committed gate artifact holds its record's bound") {
    val files = committed
    assert(files.nonEmpty)
    files.foreach { f =>
      val j = mapper.readTree(f.toFile)
      val gate = Gates.byName(j.get("gate").asText)
      val factor = j.get("factor").asInt
      assert(f.getFileName.toString == Gates.artifact(gate.name, factor))
      val rows = rowsOf(gate, j)
      val extra = fields(j.get("extra")).map { case (k, v) => k -> v.asDouble }
        .toMap
      assert(Gates.flagsOf(gate, factor, rows, extra).isEmpty, f)
      assert(strings(j.get("flags")).isEmpty, f)
      assert(strings(j.get("failed")).isEmpty, f)
      val only = strings(j.get("only"))
      assert(rows.keySet == (if (only.isEmpty) gate.items(factor) else only)
        .toSet, f)
    }
  }

  test("the factor-10 growth artifact has a row for every registry query") {
    val j = mapper.readTree(Paths.get(Gates.artifact("growth", 10)).toFile)
    assert(strings(j.get("only")).isEmpty)
    assert(fields(j.get("rows")).map(_._1).toSet == SparkEntry.queries.keySet)
  }

  test("work contracts hold at 1x and 10x of sf0.001") {
    val scaled = Files.createTempDirectory("graft_work").toString + "/x10"
    ScaleData.writeScaledWarehouse(spark, sf, scaled, 10, 4)
    val gated = Gates.growth.toSeq.sortBy(_._1).collect {
      case (n, w: WorkGated) => n -> w
    }
    assert(gated.map(_._1) ==
      Seq("dd_edit_distance", "g4_jaccard", "g4_jaccard_capped"))
    gated.foreach { case (n, w) =>
      val (w1, w10) = (w.metric(spark, sf), w.metric(spark, scaled))
      val growth = w10 / math.max(w1, 1.0)
      info(f"$n: $w1%.1f -> $w10%.1f ($growth%.2fx, " +
        f"bound ${w.workSlack * 10}%.0f)")
      assert(w1 > 0 && growth <= w.workSlack * 10, n)
    }
  }

  test("a scaled warehouse is regenerated for another factor") {
    val dir = Files.createTempDirectory("graft_rescale").toString + "/scaled"
    ScaleData.writeScaledWarehouse(spark, sf, dir, 2, 4)
    ScaleData.writeScaledWarehouse(spark, sf, dir, 3, 4)
    assert(Tables.customer(spark, dir).count() ==
      3 * Tables.customer(spark, sf).count())
  }

  test("a writer refuses a dir it did not write, and one holding its source") {
    val root = Files.createTempDirectory("graft_refuse")
    val foreign = Files.createDirectories(root.resolve("foreign"))
    Files.writeString(foreign.resolve("keep.txt"), "not a warehouse")
    intercept[IllegalArgumentException] {
      ScaleData.writeScaledWarehouse(spark, sf, foreign.toString, 2, 4)
    }
    assert(Files.readString(foreign.resolve("keep.txt")) == "not a warehouse")
    // Even a stamped dir is refused when the source lies inside it.
    val src = Files.createDirectories(root.resolve("src"))
    Files.writeString(src.resolve("keep.txt"), "source")
    Files.writeString(root.resolve("_graft_source"), "x2 of elsewhere")
    intercept[IllegalArgumentException] {
      ScaleData.writeScaledWarehouse(spark, src.toString, root.toString, 2, 4)
    }
    assert(Files.readString(src.resolve("keep.txt")) == "source")
  }
}
