package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query registry: one [[QuerySpec]] per query, declared in the
  * module that builds it. Every entry whose check is an [[Oracle]] is
  * differentially checked against DuckDB running the oracle SQL on the
  * same parquet tables (sorted columns, sorted rows, hashed values) —
  * column names are kept identical by construction (see package object
  * `graft` for the determinism helpers). Row order is part of a
  * query's result only for the top-k/limit queries, the sort operators
  * (`o1_sort`, `o4_offset`, `o5_zorder`) and `ml_model_compare`'s
  * report; every other query returns its rows in no particular order.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Windows.features(spark, "/root/testdata/sf0.001")

  /** Every registered query, one record each, in module order. */
  lazy val specs: Seq[QuerySpec] =
    operators.Relational.specs ++
      operators.Windows.specs ++
      operators.Dedup.specs ++
      operators.Similarity.specs ++
      operators.TextAnalysis.specs ++
      operators.Multimodal.specs ++
      operators.SqlSurface.specs ++
      operators.Extended.specs ++
      operators.TemporalJoins.specs ++
      operators.ScalarOps.specs ++
      operators.TpchQueries.specs ++
      operators.CorpusOps.specs ++
      operators.Layout.specs ++
      operators.Graph.specs ++
      operators.Stats.specs ++
      pipeline.MlPipeline.specs

  /** Name → spec; throws if two specs share a name. */
  lazy val byName: Map[String, QuerySpec] = QuerySpec.index(specs)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, s) => n -> s.build }

  /** For each [[Oracle]]-checked query, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. The 7 queries without one get
    * only a rows-only check there: the 6 approximate variants
    * carry a [[Recall]] floor against their exact twin ([[RecallGate]]),
    * and `ml_model_compare` is [[Unchecked]] (spec-tested instead).
    */
  lazy val oracleSql: Map[String, String] =
    byName.collect { case (n, QuerySpec(_, _, Oracle(sql), _)) => n -> sql }
}
