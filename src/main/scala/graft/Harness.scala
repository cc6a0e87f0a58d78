package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every `main` in this package shares: one session builder, one
  * plan drain, one subset rule and one JSON writer — so the mains differ
  * only in what they measure.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every available
    * processor. Shuffle partitions follow it.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs in: `local[cpus]`, shuffle partitions
    * = cpus, UTC, no UI, log level ERROR.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Execute the frame's EXACT physical plan: a count() on top would let
    * the optimizer prune unused window/projection expressions and
    * under-measure. toRdd + full iterator consumption materializes every
    * output column.
    */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }

  /** Build the registered query `name` on `dir` and drain it. */
  def runFull(spark: SparkSession, name: String, dir: String): Unit =
    drain(SparkEntry.queries(name)(spark, dir))

  /** One warm pass (JIT, codegen caches, per-dir pins — a cold first run
    * would charge one-time pin population to the measurement), then one
    * timed pass; returns its seconds.
    */
  def warmTimed(spark: SparkSession, name: String, dir: String): Double = {
    runFull(spark, name, dir)
    val t0 = System.nanoTime()
    runFull(spark, name, dir)
    (System.nanoTime() - t0) / 1e9
  }

  /** The registry subset named on a command line, sorted: every query
    * when `names` is empty, else exactly the given names. An unknown name
    * throws, naming it.
    */
  def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains).distinct
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq else names.distinct)
      .sorted
  }

  // ------------------------------------------------------------ JSON

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in hand-written SQL, or a quote in a path,
    * would otherwise make the artifact unparseable.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point number in `Locale.ROOT` (a comma-decimal default locale
    * would emit invalid JSON); NaN and infinities, which JSON cannot
    * carry, become null.
    */
  def num(v: Double, digits: Int = 3): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Array of strings. */
  def arr(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")

  /** Object from (key, raw JSON value) pairs, in the given order. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Object of numbers. */
  def nums(fields: Iterable[(String, Double)], digits: Int = 3): String =
    obj(fields.map { case (k, v) => k -> num(v, digits) })

  /** Write `json` as one line to `path` and print it. */
  def emit(path: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (json + "\n").getBytes("UTF-8"))
    println(json)
  }
}
