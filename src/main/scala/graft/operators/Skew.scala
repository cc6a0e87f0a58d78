package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot keys at scale.
  *
  * AQE's skew-join splitting handles most cases at runtime; these are the
  * explicit fallbacks for the two shapes AQE does not cover:
  * pre-aggregation salting (hot groupBy keys) and replicated salted
  * broadcast-side joins (hot join keys against a small-but-not-tiny dim).
  */
object Skew {

  /** Two-phase salted aggregation: count/sum-style aggregates on a skewed
    * key. Phase 1 aggregates on (key, salt) — spreading a hot key over
    * `buckets` reducers — phase 2 merges the partials. Semantically equal
    * to a direct groupBy for decomposable aggregates.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("cnt"))
  }

  /** Salted join against a small dimension: fact rows get a random salt
    * in [0, buckets); the dim is replicated once per salt value so the
    * join key (key, salt) spreads each hot key over `buckets` tasks.
    * Use when the dim is small enough to replicate but the fact side's
    * key distribution defeats a plain shuffle join and broadcast is not
    * available (e.g. dim slightly over the broadcast threshold).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      buckets: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val replicatedDim = dim
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    saltedFact.join(replicatedDim, Seq(key, "__salt")).drop("__salt")
  }
}
