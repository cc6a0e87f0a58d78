package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the repo knows about one registered query, in one record:
  * how to build it, how its output is checked, and how the growth gate
  * judges its scaling. Each operator module declares its own `specs`;
  * [[SparkEntry.specs]] concatenates them, and the contract maps
  * ([[SparkEntry.queries]], [[SparkEntry.oracleSql]]), the recall
  * pairings and floors ([[Recall$]]), the bench's `recall` section and
  * the growth gate's rules ([[Gates.growth]]) are all views over that
  * one list.
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

/** The registry's [[Recall]] checks as the bench measures them. */
object Recall {
  private lazy val specs: Seq[(String, Recall)] =
    SparkEntry.specs.collect { case QuerySpec(n, _, r: Recall, _) => n -> r }

  /** (exact twin, approximate variants, id-pair columns), one row per
    * twin, in registry order.
    */
  lazy val Pairings: Seq[(String, Seq[String], Seq[String])] =
    specs.map { case (_, r) => (r.twin, r.keyCols) }.distinct.map {
      case (twin, keyCols) =>
        (twin, specs.collect {
          case (n, r) if r.twin == twin && r.keyCols == keyCols => n
        }, keyCols)
    }

  /** Each [[Recall]]-checked query's committed floor. */
  lazy val Floors: Map[String, Double] =
    specs.map { case (n, r) => n -> r.floor }.toMap

  /** The floor policy, pure for the spec: a floored query flags when its
    * measured recall is under the floor OR when the measurement is
    * missing entirely (an exact twin that failed to run must not
    * silently pass its variants). Sorted.
    */
  def flagged(recalls: Map[String, Double],
      floors: Map[String, Double]): Seq[String] =
    floors.keys.toSeq.sorted
      .filter(q => recalls.get(q).forall(_ < floors(q)))

  /** Recall of each variant's `keyCols` pair set against the exact
    * twin's. Empty when the twin returns no pairs (corpus smaller than
    * the query set): recall would be 0/0 = NaN.
    */
  def recallOf(spark: SparkSession, sfDir: String, twin: String,
      variants: Seq[String], keyCols: Seq[String]): Seq[(String, Double)] = {
    def pairs(q: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, sfDir)
        .select(keyCols.head, keyCols.tail: _*).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(twin)
    if (exact.isEmpty) Seq.empty
    else variants.map { q =>
      q -> pairs(q).count(exact.contains).toDouble / exact.size
    }
  }
}

/** Neither SQL-reproducible nor approximating an exact twin; `reason`
  * says what checks it instead. Its output gets only a rows-only check.
  */
final case class Unchecked(reason: String) extends Check

/** A growth-gate rule ([[Gates.growth]]) replacing the default linear
  * wall bound.
  */
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
