package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the repo knows about one registered query, in one record:
  * how to build it, how its output is checked, and how the growth gate
  * judges its scaling. Each operator module declares its own `specs`;
  * [[SparkEntry.specs]] concatenates them, and the contract maps
  * ([[SparkEntry.queries]], [[SparkEntry.oracleSql]]), [[RecallGate]],
  * the bench's `recall` section and [[GrowthGate]]'s flag policy are all
  * views over that one list.
  */
final case class QuerySpec(name: String, build: Query, check: Check,
    growth: Option[Growth] = None)

object QuerySpec {
  /** A query stated once: `text` is both its Spark build and its
    * DuckDB oracle.
    */
  def sql(name: String, text: String, growth: Option[Growth] = None): QuerySpec =
    QuerySpec(name, SqlText(text), Oracle(text), growth)

  /** Name → spec. Throws on a duplicate name: two same-named entries
    * would otherwise silently shadow each other.
    */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect {
      case (n, xs) if xs.size > 1 => n
    }
    require(dups.isEmpty,
      s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }
}

/** The build of a query whose Spark form is one SQL text, run by
  * [[Tables.sql]]; a value, so a spec can tell it from a Scala body.
  */
final case class SqlText(text: String) extends Query {
  def apply(s: SparkSession, d: String): DataFrame = Tables.sql(s, d, text)
}

/** How a query's output is checked. */
sealed trait Check

/** Hash-compared against DuckDB running `sql` on the same parquet tables
  * (sorted columns, hashed values).
  */
final case class Oracle(sql: String) extends Check

/** Approximate by construction: the recall of its id-pair set, keyed by
  * `keyCols`, against the oracle-checked exact `twin` must stay at or
  * above `floor`. A floor is the measured recall at sf0.1 minus 0.02; the
  * allowance covers cross-round corpus regeneration jitter (the testdata
  * is rebuilt per round with fresh seeds). Every pipeline here is
  * deterministic per corpus, so on FIXED data any drop below the floor is
  * a code change, not noise. Raise a floor when a retune raises the
  * measured recall; never lower one without a verdict-visible reason.
  */
final case class Recall(twin: String, keyCols: Seq[String], floor: Double)
  extends Check

/** Neither SQL-reproducible nor approximating an exact twin; `reason`
  * says what checks it instead. Its output gets only a rows-only check.
  */
final case class Unchecked(reason: String) extends Check

/** A [[GrowthGate]] rule replacing the default linear wall bound. */
sealed trait Growth

/** Super-linear BY SPEC: `bound` is the wall growth allowed at 10×, and
  * `exponent` is the cost model's exponent, which scales the bound at
  * other factors; `why` is the reason the judge should read.
  */
final case class Exempt(bound: Double, exponent: Double, why: String)
  extends Growth

/** Gated on a measured, variance-free work `metric` instead of raw wall
  * time: the metric's growth must stay within `workSlack` × factor, and
  * the wall's within `wallSlack` × the measured work growth.
  */
final case class WorkGated(workSlack: Double, wallSlack: Double,
    metric: (SparkSession, String) => Double, why: String) extends Growth
