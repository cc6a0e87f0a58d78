package graft

import org.scalatest.funsuite.AnyFunSuite

/** The growth gate's flag policy as pure arithmetic — the BenchGate
  * precedent: every decision the gate mains take over measured numbers
  * is spec-testable without Spark or a scaled warehouse. Shapes below
  * are the real round-13 measurements that motivated each rule.
  */
class GrowthGateSpec extends AnyFunSuite {

  test("default bound scales with the factor; linear plans pass at 30x") {
    // A linear plan lands ~f× at f× data: growth 9 at 10× (under 12),
    // growth 29 at 30× (under the scaled 36) — neither flags.
    assert(!GrowthGate.flagged(10, "q", t1 = 1.0, tN = 9.0, work = None))
    assert(!GrowthGate.flagged(30, "q", t1 = 1.0, tN = 29.0, work = None))
    // A genuinely super-linear creeper flags at both factors.
    assert(GrowthGate.flagged(10, "q", t1 = 1.0, tN = 15.0, work = None))
    assert(GrowthGate.flagged(30, "q", t1 = 1.0, tN = 40.0, work = None))
  }

  test("sub-material walls never flag regardless of ratio") {
    // 0.1s → 1.5s is fixed-overhead noise, not a scale signal.
    assert(!GrowthGate.flagged(10, "q", t1 = 0.1, tN = 1.5, work = None))
  }

  test("quadratic-spec exemptions scale by (factor/10)^2") {
    // sim_knn_self at 30×: a healthy by-spec quadratic is ~900× its 1×
    // wall. Linear scaling of the 150-at-10× bound (→450) would flag
    // it; the exponent-2 scaling (→1350) must not.
    assert(!GrowthGate.flagged(30, "sim_knn_self",
      t1 = 1.0, tN = 900.0, work = None))
    // But even a quadratic-spec query flags when it exceeds ITS model.
    assert(GrowthGate.flagged(30, "sim_knn_self",
      t1 = 1.0, tN = 1500.0, work = None))
    // And at 10× the calibrated bound applies unchanged.
    assert(!GrowthGate.flagged(10, "sim_knn_self",
      t1 = 1.0, tN = 100.0, work = None))
    assert(GrowthGate.flagged(10, "sim_knn_self",
      t1 = 1.0, tN = 200.0, work = None))
  }

  test("work-gated: the work contract flags a quadratic candidate set") {
    // g4's r13 measurement: work exactly 10× at 10× — in contract.
    assert(!GrowthGate.flagged(10, "g4_jaccard",
      t1 = 2.5, tN = 7.4, work = Some((12544866.0, 125448660.0))))
    // A quadratic candidate set (~100× work at 10×) cannot hide,
    // whatever the wall says.
    assert(GrowthGate.flagged(10, "g4_jaccard",
      t1 = 2.5, tN = 7.4, work = Some((12544866.0, 1254486600.0))))
  }

  test("work-gated: wall must track the measured work") {
    // dd_edit_distance under the r14 normalized banded metric: work
    // tracks candidate count (~11× at 10×) and the slack is 1.5 —
    // wall under wallSlack × work growth, no flag.
    assert(!GrowthGate.flagged(10, "dd_edit_distance",
      t1 = 1.9, tN = 12.7, work = Some((1000000.0, 11000000.0))))
    // The r13 length-inflated shape (19.7× work at 10×) now BREACHES
    // the tightened 1.5 slack — the normalization exists precisely so
    // that a legitimate linear plan can no longer produce it.
    assert(GrowthGate.flagged(10, "dd_edit_distance",
      t1 = 1.9, tN = 18.7, work = Some((26624995.0, 525799480.0))))
    // A wall far beyond the measured work (lost broadcast, re-evaluated
    // generator) flags even when the work itself is in contract.
    assert(GrowthGate.flagged(10, "dd_edit_distance",
      t1 = 1.0, tN = 60.0, work = Some((1000000.0, 11000000.0))))
  }

  test("failed timings never flag") {
    assert(!GrowthGate.flagged(10, "q", t1 = -1.0, tN = -1.0, work = None))
  }

  // ------------------------------------------------- recall-gate policy

  test("recall gate: under-floor flags, at/above floor passes, " +
      "missing measurement flags, output sorted") {
    val floors = Map("a" -> 0.9, "b" -> 0.8, "c" -> 0.95)
    // All at or above floor: clean.
    assert(RecallGate.flagged(
      Map("a" -> 0.9, "b" -> 0.85, "c" -> 0.99), floors).isEmpty)
    // One under floor: exactly that one, by name.
    assert(RecallGate.flagged(
      Map("a" -> 0.89, "b" -> 0.85, "c" -> 0.99), floors) == Seq("a"))
    // A floored query with NO measurement (its exact twin failed, or
    // the variant errored) must flag — silence is not a pass.
    assert(RecallGate.flagged(
      Map("a" -> 0.95, "c" -> 0.99), floors) == Seq("b"))
    // Multiple flags come out sorted for a stable artifact.
    assert(RecallGate.flagged(Map.empty[String, Double], floors)
      == Seq("a", "b", "c"))
    // Measurements without floors are ignored (new variants opt in by
    // getting a floor, not by existing).
    assert(RecallGate.flagged(
      Map("a" -> 0.9, "b" -> 0.8, "c" -> 0.95, "zz" -> 0.0),
      floors).isEmpty)
  }
}
