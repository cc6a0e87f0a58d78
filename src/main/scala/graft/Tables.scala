package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias,
  UnresolvedWith}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.functions.{array, array_remove, col, explode, expr,
  lit, size, split, timestamp_micros, try_element_at, when}
import org.apache.spark.sql.types._

/** Loader for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every query in the engine takes a `sfDir` (scale-factor directory) and
  * reads the parquet tables from it — the same tables the DuckDB oracle
  * reads. At 100 TB these would be partitioned/bucketed warehouse tables;
  * the access path (columnar parquet scan with pushed filters + pruned
  * columns) is identical.
  *
  * Two ingest-robustness guarantees live here (and only here, so every
  * query inherits them):
  *
  *  1. '''Encoding-tolerant events timestamps.''' The driver has shipped
  *     `events.ts` both as parquet TIMESTAMP(NANOS) (which Spark 4 only
  *     reads as a raw long under the legacy `nanosAsLong` conf) and as
  *     TIMESTAMP(MICROS)/TIMESTAMP_NTZ. [[eventsTs]] dispatches on the
  *     type the file actually contains and canonicalizes both encodings
  *     to the same session-TZ `TimestampType` at micro resolution — the
  *     value DuckDB's `epoch_us(ts)` produces (session TZ is pinned UTC,
  *     so the NTZ→LTZ cast is value-stable).
  *  2. '''Load-time schema contracts.''' Every table read is checked once
  *     per (dir, table) against the declared column/type contract below;
  *     a drifted file fails with one actionable message naming the
  *     table, column, expected and found type — instead of N cryptic
  *     analysis errors downstream.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The documents table's DDL schema — shared by the corpus
    * interchange readers (JSONL/CSV round-trips) and the corpus
    * pipeline's ingest stage, which must parse exactly these columns.
    */
  val DocumentsSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df =
      if (name == "events") eventsFrom(spark, s"$sfDir/events.parquet")
      else spark.read.parquet(s"$sfDir/$name.parquet")
    assertContract(sfDir, name, df.schema)
    df
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** One SQL text over the tables of `sfDir`: the build of every query
    * whose Spark form is its oracle's own text. Each single-part relation
    * named in [[names]] becomes that table's loaded plan, so no temp view
    * is registered and two dirs can be built in one session. A
    * nanos-encoded events scan keeps its [[eventsFrom]] clone's conf, as
    * a scan reads through its relation's session. A CTE that shadows a
    * table, or a relation that is neither a table nor a CTE, is refused
    * by name: it would otherwise resolve against whatever the caller's
    * catalog holds.
    */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    val parsed = Glue.parsePlan(spark, text)
    // CTE bodies sit in `cteRelations`, which are not children: every
    // walk over the plan descends into them by hand.
    def refs(p: LogicalPlan): Seq[Either[String, Seq[String]]] =
      p.collectWithSubqueries {
        case w: UnresolvedWith =>
          w.cteRelations.flatMap { case (n, q, _) => Left(n) +: refs(q) }
        case r: UnresolvedRelation => Seq(Right(r.multipartIdentifier))
      }.flatten
    val (ctes, rels) = refs(parsed).partitionMap(identity)
    val cteSet = ctes.map(_.toLowerCase).toSet
    cteSet.find(names.contains).foreach(n => throw new IllegalArgumentException(
      s"Tables.sql: CTE '$n' shadows the table of that name"))
    rels.find(r => r.size != 1 || !(names.contains(r.head.toLowerCase) ||
        cteSet(r.head.toLowerCase))).foreach(r =>
      throw new IllegalArgumentException(s"Tables.sql: relation " +
        s"'${r.mkString(".")}' is neither a table of $sfDir nor a CTE"))
    val plans = rels.map(_.head.toLowerCase).filterNot(cteSet).distinct
      .map(n => n -> apply(spark, sfDir, n).queryExecution.analyzed).toMap
    def bind(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, q, depth) => (n, bind(q).asInstanceOf[SubqueryAlias], depth)
      })
      case UnresolvedRelation(Seq(n), _, _) if plans.contains(n.toLowerCase) =>
        SubqueryAlias(n, plans(n.toLowerCase))
    }
    Glue.ofRows(spark, bind(parsed))
  }

  /** The one parser for headerless whitespace-separated text lines (a
    * `value` string column): field i of `schema` reads token i, tokens
    * past the schema's width are ignored, a short line gives trailing
    * NULLs, and a blank or whitespace-only line gives no row. Integer
    * and long fields cast strictly; every other type uses try_cast, so
    * a bad token becomes NULL.
    */
  def parseText(lines: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val token = try_element_at(col("f"), lit(i + 1))
      val typed = f.dataType match {
        case IntegerType | LongType => token.cast(f.dataType)
        case t => token.try_cast(t)
      }
      typed.as(f.name)
    }
    // Empty tokens come only from leading or trailing whitespace. A line
    // left with none is dropped by explode rather than by a filter: a
    // filter is pushed below a computed `value` (s1_text_scan's), which
    // evaluates the caller's expression twice.
    lines.select(array_remove(split(col("value"), "\\s+"), "").as("f"))
      .select(explode(when(size(col("f")) > 0, array(col("f")))).as("f"))
      .select(cols: _*)
  }

  // One nanos-enabled clone per parent session, created on the first
  // nanos-encoded read and evicted with the context: cloning per read
  // would rebuild session state for every query touching events.
  private val nanosSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  private def nanosSession(s: SparkSession): SparkSession = {
    ContextCaches.evictOnStop(s.sparkContext, "nanos-sessions")(() =>
      nanosSessions.filterInPlace((p, _) => p.sparkContext ne s.sparkContext))
    nanosSessions.getOrElseUpdate(s, {
      val ns = org.apache.spark.sql.graftglue.Glue.cloneSession(s)
      ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ns
    })
  }

  /** Read an events parquet file whatever timestamp encoding it uses.
    *
    * A TIMESTAMP(NANOS) file is rejected by Spark 4's schema inference
    * unless `spark.sql.legacy.parquet.nanosAsLong` is set. The plain
    * read is attempted first; the nanos branch re-reads through a
    * CLONED session carrying the conf, so the caller's session is never
    * mutated (the conf is consulted again when the physical scan builds
    * its parquet reader, so it must stay set on the session the frame
    * is bound to — a set-then-restore here would break at action time).
    * A later read of a genuinely nanos-encoded column through the
    * caller's session still fails loudly, as it should.
    */
  def eventsFrom(s: SparkSession, path: String): DataFrame = {
    val (raw, nanosRead) =
      try (s.read.parquet(path), false)
      catch {
        case e: Throwable if isNanosRejection(e) =>
          (nanosSession(s).read.parquet(path), true)
      }
    // A file with no ts column at all falls through untouched so the
    // schema contract reports the missing column with its actionable
    // message (dying here on raw.schema("ts") would bypass it).
    if (!raw.schema.fieldNames.contains("ts")) raw
    else raw.withColumn("ts", eventsTs(raw, path, nanosRead))
  }

  /** The single canonical events-timestamp definition: whatever physical
    * encoding `ts` arrived in, the result is a session-TZ `TimestampType`
    * column at micro resolution, so `tsUs(ts)` equals DuckDB `epoch_us(ts)`
    * on the same file. Keep all encoding dispatch here — a new driver
    * encoding should be a one-line change.
    */
  private def eventsTs(raw: DataFrame, path: String,
      nanosRead: Boolean): org.apache.spark.sql.Column =
    raw.schema("ts").dataType match {
      // nanos-as-long, ONLY on the nanosAsLong read path (the legacy
      // conf is what turned the annotated TIMESTAMP(NANOS) into a
      // long): integer floor-division to micros, the exact value
      // DuckDB's epoch_us produces (sub-µs dropped deterministically).
      case LongType if nanosRead => timestamp_micros(expr("ts div 1000"))
      // A long WITHOUT the nanos annotation is an unannotated BIGINT —
      // refusing to guess the epoch unit beats silently dividing a
      // micros value by 1000 into ~1970 timestamps.
      case LongType => throw new IllegalArgumentException(
        s"events table at $path: column 'ts' is a raw BIGINT with no " +
          "parquet timestamp annotation; refusing to guess the epoch " +
          "unit. Encode ts as TIMESTAMP, TIMESTAMP_NTZ, or " +
          "TIMESTAMP(NANOS).")
      // already micro-resolution wall-clock; session TZ is pinned UTC so
      // the NTZ→LTZ cast preserves the stored micros value.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalArgumentException(
        s"events table at $path: column 'ts' has unsupported type " +
          s"${other.simpleString}; expected TIMESTAMP, TIMESTAMP_NTZ, " +
          "or nanos-encoded BIGINT")
    }

  private def isNanosRejection(e: Throwable): Boolean = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse(""))
    msgs.exists(m => m.contains("NANOS") || m.contains("nanosAsLong"))
  }

  // ---------------------------------------------------------------------
  // Load-time schema contracts
  // ---------------------------------------------------------------------

  /** Declared contract per table: column → acceptable type simpleStrings.
    * Multiple acceptable encodings are listed where the driver has
    * legitimately varied them (events.ts) or where width is benign
    * (int vs bigint keys — both safely widen to long downstream).
    */
  private val intOrLong = Set("int", "bigint")
  private val contracts: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> intOrLong, "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> intOrLong, "n_name" -> Set("string"),
      "n_regionkey" -> intOrLong),
    "customer" -> Seq(
      "c_custkey" -> intOrLong, "c_name" -> Set("string"),
      "c_nationkey" -> intOrLong, "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> intOrLong, "s_name" -> Set("string"),
      "s_nationkey" -> intOrLong, "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> intOrLong, "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> intOrLong, "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> intOrLong, "o_custkey" -> intOrLong,
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Set("date", "timestamp", "timestamp_ntz"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> intOrLong, "l_partkey" -> intOrLong,
      "l_suppkey" -> intOrLong, "l_linenumber" -> intOrLong,
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("date", "timestamp", "timestamp_ntz")),
    "events" -> Seq(
      "event_id" -> intOrLong, "ts" -> Set("timestamp"), // post-canonicalization
      "user_id" -> intOrLong, "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> intOrLong, "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> intOrLong),
    "embeddings" -> Seq(
      "vec_id" -> intOrLong, "embedding" -> Set("array<float>", "array<double>"),
      "label" -> intOrLong))

  /** Once per (dir, table): check the loaded schema against the contract
    * and fail with one actionable message on drift. Missing contract
    * columns and type mismatches are errors; extra columns are allowed
    * (additive driver changes shouldn't break reads).
    */
  private val checked = ConcurrentHashMap.newKeySet[String]()

  private[graft] def assertContract(dir: String, name: String, schema: StructType): Unit = {
    if (!checked.add(s"$dir/$name")) return
    contracts.get(name).foreach { cols =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (colName, accepted) =>
        byName.get(colName) match {
          case None =>
            checked.remove(s"$dir/$name")
            throw new IllegalArgumentException(
              s"schema contract violation: table '$name' at $dir is missing " +
                s"column '$colName' (expected one of: ${accepted.mkString(", ")}); " +
                s"found columns: ${schema.fieldNames.mkString(", ")}")
          case Some(dt) if !accepted.contains(dt.simpleString) =>
            checked.remove(s"$dir/$name")
            throw new IllegalArgumentException(
              s"schema contract violation: table '$name' at $dir column " +
                s"'$colName' has type ${dt.simpleString}; expected one of: " +
                accepted.mkString(", "))
          case _ => ()
        }
      }
    }
  }
}
