package graft

import org.apache.spark.sql.SparkSession

/** Committed-floor gate for the approximate-query family. The ANN and
  * semantic-dedup recalls have been measured inside every bench run
  * since round 12 ([[Bench]]'s `recall` field), but carried no flag
  * policy: a tuning change that silently dropped recall would sail
  * through the round-close checks that catch a perf regression. This
  * gate pins PER-QUERY FLOORS — the round-14/15 measured recalls minus
  * a 0.02 jitter allowance — and flags any approximate query that
  * lands under its floor (or fails to produce a measurement at all),
  * the same protocol shape as the growth/hub/skew gates.
  *
  * Recall here is id-pair-set recall against the exact twin, computed
  * with the SAME pairings [[Bench]] reports, at the official sf0.1
  * scale. Twins, key columns and floors are the registry's [[Recall]]
  * checks: (query_id, neighbor_id) for the ANN variants vs the exact
  * scan, (id_a, id_b) for SemDeDup vs the exact cosine pass, (s1, s2)
  * for the capped curation-mode jaccard vs the exact operator.
  *
  * Usage: runMain graft.RecallGate [sfDir]
  * Artifact: recall_gate.json (per-query recall + floor + flags).
  */
object RecallGate {
  private lazy val recallSpecs: Seq[(String, Recall)] =
    SparkEntry.specs.collect { case QuerySpec(n, _, r: Recall, _) => n -> r }

  /** (exact twin, approximate variants, id-pair columns), one row per
    * twin, in registry order.
    */
  lazy val Pairings: Seq[(String, Seq[String], Seq[String])] =
    recallSpecs.map { case (_, r) => (r.twin, r.keyCols) }.distinct.map {
      case (twin, keyCols) =>
        (twin, recallSpecs.collect {
          case (n, r) if r.twin == twin && r.keyCols == keyCols => n
        }, keyCols)
    }

  /** Each [[Recall]]-checked query's committed floor. */
  lazy val Floors: Map[String, Double] =
    recallSpecs.map { case (n, r) => n -> r.floor }.toMap

  /** The gate's entire flag policy, pure for the spec: a floored query
    * flags when its measured recall is under the floor OR when the
    * measurement is missing entirely (an exact twin that failed to
    * run must not silently pass its variants).
    */
  def flagged(recalls: Map[String, Double],
      floors: Map[String, Double]): Seq[String] =
    floors.keys.toSeq.sorted
      .filter(q => recalls.get(q).forall(_ < floors(q)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    val recalls = Pairings.flatMap { case (twin, variants, keyCols) =>
      recallOf(spark, sfDir, twin, variants, keyCols).map { case (q, r) =>
        println(f"[recall_gate] $q%-20s vs $twin%-18s recall=$r%.3f " +
          f"floor=${Floors(q)}%.3f")
        q -> r
      }
    }.toMap
    val flags = flagged(recalls, Floors)
    Harness.emit("recall_gate.json", Harness.obj(Seq(
      "metric" -> Harness.str("recall_gate"),
      "n" -> Floors.size.toString,
      "flags" -> Harness.arr(flags),
      "recall" -> Harness.nums(recalls.toSeq.sortBy(_._1), 4),
      "floors" -> Harness.nums(Floors.toSeq.sortBy(_._1), 4),
      "sf" -> Harness.str(sfDir))))
    spark.stop()
  }

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
