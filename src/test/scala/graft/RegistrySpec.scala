package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the one query registry ([[SparkEntry.specs]]): every
  * per-query fact — oracle SQL, recall twin and floor, growth rule —
  * lives in its query's [[QuerySpec]], so these hold across the views
  * the correctness dump, the bench and the gates read. No Spark session
  * needed.
  */
class RegistrySpec extends AnyFunSuite {
  private val specs = SparkEntry.specs
  private val names = specs.map(_.name).toSet

  test("names are unique, and the registry throws on a duplicate") {
    assert(specs.size == names.size)
    val dup = specs.head.copy(build = specs.last.build)
    val e = intercept[IllegalArgumentException](
      QuerySpec.index(specs :+ dup))
    assert(e.getMessage.contains(dup.name))
  }

  test("224 queries, 217 of them oracle-checked") {
    assert(specs.size == 224)
    assert(SparkEntry.queries.size == 224)
    assert(SparkEntry.oracleSql.size == 217)
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every recall twin is registered and oracle-checked") {
    specs.collect { case QuerySpec(n, _, Recall(twin, keys, _), _) =>
      assert(SparkEntry.oracleSql.contains(twin), s"$n's twin $twin")
      assert(keys.size == 2, s"$n pairs on $keys")
    }
  }

  test("recall gate: every shipped pairing variant has a floor") {
    val variants = Recall.Pairings.flatMap(_._2).toSet
    assert(variants.nonEmpty)
    assert(Recall.Floors.keySet == variants,
      s"floorless variants: ${variants.diff(Recall.Floors.keySet)}; " +
        s"orphan floors: ${Recall.Floors.keySet.diff(variants)}")
  }

  test("every floor is in (0, 1]") {
    Recall.Floors.foreach { case (n, f) =>
      assert(f > 0 && f <= 1, s"$n floor $f")
    }
  }

  test("every growth entry names a registered query") {
    assert(Gates.growth.size == 7)
    assert(Gates.growth.keySet.subsetOf(names))
    assert(Gates.growth.values.count(_.isInstanceOf[Exempt]) == 4)
  }

  test("only ml_model_compare is unchecked") {
    assert(specs.collect { case QuerySpec(n, _, _: Unchecked, _) => n } ==
      Seq("ml_model_compare"))
  }
}
