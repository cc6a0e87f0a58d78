package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest-robustness contract of [[Tables]]:
  *
  *  - `events.ts` reads identically whether the driver shipped it as
  *    parquet TIMESTAMP(NANOS) (Spark 4: legacy nanos-as-long) or as
  *    TIMESTAMP_NTZ/TIMESTAMP micros — the round-6 failure mode where a
  *    re-encoded file took 55 queries dark at analysis time.
  *  - every table read is checked against a declared schema contract and
  *    drift fails with one actionable message.
  */
class TablesContractSpec extends GraftSuite {

  /** Sample instants with sub-µs residue so the nanos path must
    * floor-divide (not round) to agree with the micros encoding.
    */
  private val sampleNs = Seq(
    (1L, 1700000000123456789L, 10L, "view", 1.5, "{}"),
    (2L, 1700000000123456001L, 11L, "click", 2.5, "{\"k\":1}"),
    (3L, 1700009999999999999L, 10L, "view", 0.0, "{}"),
    (4L, 946684800000000123L, 12L, "purchase", 9.75, "{}"))

  /** `annotated = false` writes ts as a RAW INT64 (no timestamp
    * annotation) — the encoding [[Tables]] must refuse rather than
    * guess an epoch unit for.
    */
  private def writeNanosFixture(dir: String,
      annotated: Boolean = true): Unit = {
    val b = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
    val msg = (if (annotated)
      b.required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS))
    else b.required(PrimitiveTypeName.INT64))
      .named("ts")
      .required(PrimitiveTypeName.INT64).named("user_id")
      .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(PrimitiveTypeName.DOUBLE).named("value")
      .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(msg, conf)
    val writer = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
      .withConf(conf).withType(msg).build()
    val f = new SimpleGroupFactory(msg)
    sampleNs.foreach { case (id, ns, uid, et, v, p) =>
      val g = f.newGroup()
      g.add("event_id", id); g.add("ts", ns); g.add("user_id", uid)
      g.add("event_type", et); g.add("value", v); g.add("props", p)
      writer.write(g)
    }
    writer.close()
  }

  private def writeMicrosFixture(dir: String): Unit = {
    import spark.implicits._
    sampleNs.map { case (id, ns, uid, et, v, p) => (id, ns / 1000, uid, et, v, p) }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("events reads nanos-long and micros-NTZ encodings to identical frames") {
    val nanosDir  = Files.createTempDirectory("graft-ev-nanos").toString
    val microsDir = Files.createTempDirectory("graft-ev-micros").toString
    writeNanosFixture(nanosDir)
    writeMicrosFixture(microsDir)

    // The nanos branch must not leak the legacy conf into the caller's
    // session (round-7 verdict): a later parquet read with a genuine
    // nanos column through THIS session must still fail loudly.
    val confKey = "spark.sql.legacy.parquet.nanosAsLong"
    val confBefore = spark.conf.getOption(confKey)
    val fromNanos  = Tables.events(spark, nanosDir)
    val fromMicros = Tables.events(spark, microsDir)
    assert(fromNanos.count() === sampleNs.size.toLong) // force the scan
    assert(spark.conf.getOption(confKey) === confBefore)

    // both canonicalize to session-TZ TimestampType
    assert(fromNanos.schema("ts").dataType === TimestampType)
    assert(fromMicros.schema("ts").dataType === TimestampType)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), tsUs(col("ts")).as("us"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy("event_id").collect().toSeq
    assert(canon(fromNanos) === canon(fromMicros))
    // and the values are the floor-divided micros, matching DuckDB epoch_us
    val us = fromNanos.orderBy("event_id").select(tsUs(col("ts"))).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().toSeq
    assert(us === sampleNs.map(_._2 / 1000))
  }

  test("SQL surface resolves the events view under the nanos encoding") {
    // Regression guard for the clone-session fix: a nanos events frame
    // is bound to Tables' internal cloned session, and a temp view
    // registers in its frame's OWN session — so registerViews must
    // route the whole SQL-surface query through that session, or
    // `FROM events` throws TABLE_OR_VIEW_NOT_FOUND. Build two full
    // table dirs (other tables symlinked from the sf dir) differing
    // only in the events encoding and assert the SQL query resolves
    // AND agrees across encodings.
    def tableDir(writeEvents: String => Unit): String = {
      val dir = Files.createTempDirectory("graft-ev-sql").toString
      Tables.names.filterNot(_ == "events").foreach { n =>
        Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$dir/$n.parquet"),
          java.nio.file.Paths.get(s"$sf/$n.parquet"))
      }
      writeEvents(dir)
      dir
    }
    val nanosDir = tableDir(writeNanosFixture(_))
    val microsDir = tableDir(writeMicrosFixture)
    def run(d: String) =
      SparkEntry.queries("sql_dbt_features")(spark, d).orderBy("event_id")
        .collect()
        .map(_.toSeq).toSeq
    val fromNanos = run(nanosDir)
    assert(fromNanos.nonEmpty)
    assert(fromNanos === run(microsDir))
  }

  test("unannotated BIGINT ts fails loudly instead of guessing the unit") {
    val dir = Files.createTempDirectory("graft-ev-rawlong").toString
    writeNanosFixture(dir, annotated = false)
    val e = intercept[IllegalArgumentException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("raw BIGINT"))
    assert(e.getMessage.contains("annotation"))
  }

  test("real testdata events reads clean with TimestampType ts") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.limit(1).count() === 1L)
  }

  test("schema contract violation fails with an actionable message") {
    val dir = Files.createTempDirectory("graft-contract").toString
    import spark.implicits._
    // documents with n_chars mistyped as string
    Seq((1L, "hello", "en", "web", "5"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.documents(spark, dir)
    }
    assert(e.getMessage.contains("documents"))
    assert(e.getMessage.contains("n_chars"))
    assert(e.getMessage.contains("string"))
    assert(e.getMessage.contains("bigint"))
  }

  test("schema contract reports a missing column by name") {
    val dir = Files.createTempDirectory("graft-contract2").toString
    import spark.implicits._
    Seq((1L, "hello", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.documents(spark, dir)
    }
    assert(e.getMessage.contains("missing"))
    assert(e.getMessage.contains("source"))
  }

  test("all ten real tables pass their contracts") {
    Tables.names.foreach { n =>
      assert(Tables(spark, sf, n).columns.nonEmpty, n)
    }
  }
}
