package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate records' flag rules ([[Gates]]) and the recall floor policy
  * ([[Recall.flagged]]) as pure arithmetic — the BenchGate precedent:
  * every decision taken over measured numbers is spec-testable without
  * Spark or a scaled warehouse. Shapes below are the real round-13
  * measurements that motivated each rule.
  */
class GrowthGateSpec extends AnyFunSuite {
  private def row(t1: Double, tN: Double, work: Option[(Double, Double)]) =
    Gates.Row(t1, tN, Gates.growthRatio(t1, tN), work)
  private def flagged(factor: Int, name: String, t1: Double, tN: Double,
      work: Option[(Double, Double)]): Boolean =
    Gates.growthFlagged(factor, name, row(t1, tN, work))

  test("default bound scales with the factor; linear plans pass at 30x") {
    // A linear plan lands ~f× at f× data: growth 9 at 10× (under 12),
    // growth 29 at 30× (under the scaled 36) — neither flags.
    assert(!flagged(10, "q", t1 = 1.0, tN = 9.0, work = None))
    assert(!flagged(30, "q", t1 = 1.0, tN = 29.0, work = None))
    // A genuinely super-linear creeper flags at both factors.
    assert(flagged(10, "q", t1 = 1.0, tN = 15.0, work = None))
    assert(flagged(30, "q", t1 = 1.0, tN = 40.0, work = None))
  }

  test("sub-material walls never flag regardless of ratio") {
    // 0.1s → 1.5s is fixed-overhead noise, not a scale signal.
    assert(!flagged(10, "q", t1 = 0.1, tN = 1.5, work = None))
  }

  test("quadratic-spec exemptions scale by (factor/10)^2") {
    // sim_knn_self at 30×: a healthy by-spec quadratic is ~900× its 1×
    // wall. Linear scaling of the 150-at-10× bound (→450) would flag
    // it; the exponent-2 scaling (→1350) must not.
    assert(!flagged(30, "sim_knn_self",
      t1 = 1.0, tN = 900.0, work = None))
    // But even a quadratic-spec query flags when it exceeds ITS model.
    assert(flagged(30, "sim_knn_self",
      t1 = 1.0, tN = 1500.0, work = None))
    // And at 10× the calibrated bound applies unchanged.
    assert(!flagged(10, "sim_knn_self",
      t1 = 1.0, tN = 100.0, work = None))
    assert(flagged(10, "sim_knn_self",
      t1 = 1.0, tN = 200.0, work = None))
  }

  test("work-gated: the work contract flags a quadratic candidate set") {
    // g4's r13 measurement: work exactly 10× at 10× — in contract.
    assert(!flagged(10, "g4_jaccard",
      t1 = 2.5, tN = 7.4, work = Some((12544866.0, 125448660.0))))
    // A quadratic candidate set (~100× work at 10×) cannot hide,
    // whatever the wall says.
    assert(flagged(10, "g4_jaccard",
      t1 = 2.5, tN = 7.4, work = Some((12544866.0, 1254486600.0))))
  }

  test("work-gated: wall must track the measured work") {
    // dd_edit_distance under the r14 normalized banded metric: work
    // tracks candidate count (~11× at 10×) and the slack is 1.5 —
    // wall under wallSlack × work growth, no flag.
    assert(!flagged(10, "dd_edit_distance",
      t1 = 1.9, tN = 12.7, work = Some((1000000.0, 11000000.0))))
    // The r13 length-inflated shape (19.7× work at 10×) now BREACHES
    // the tightened 1.5 slack — the normalization exists precisely so
    // that a legitimate linear plan can no longer produce it.
    assert(flagged(10, "dd_edit_distance",
      t1 = 1.9, tN = 18.7, work = Some((26624995.0, 525799480.0))))
    // A wall far beyond the measured work (lost broadcast, re-evaluated
    // generator) flags even when the work itself is in contract.
    assert(flagged(10, "dd_edit_distance",
      t1 = 1.0, tN = 60.0, work = Some((1000000.0, 11000000.0))))
  }

  test("failed timings never flag") {
    assert(!flagged(10, "q", t1 = -1.0, tN = -1.0, work = None))
  }

  test("skew: a work-gated query keeps only the wall-tracks-work check") {
    // g4 on Zipf keys at 10×: work grew 96× (legitimate — popular
    // customers' degrees grow with the data) and the wall tracked it.
    val zipf = Some((33700463.0, 3240589883.0))
    assert(!Gates.skewFlagged(10, "g4_jaccard", row(11.2, 211.8, zipf)))
    assert(flagged(10, "g4_jaccard", 11.2, 211.8, zipf))
    // A straggling key: the wall far outgrows the measured work.
    assert(Gates.skewFlagged(10, "g4_jaccard",
      row(1.0, 300.0, Some((1000000.0, 10000000.0)))))
    // Other queries keep the growth rule unchanged.
    assert(Gates.skewFlagged(10, "q", row(1.0, 15.0, None)))
    assert(!Gates.skewFlagged(10, "q", row(1.0, 9.0, None)))
  }

  test("hub and stream flag a ratio above 3, with no material floor") {
    def rule(gate: String, a: Double, b: Double) = {
      val g = Gates.byName(gate)
      g.flag(10, "x", g.row(a, b, None))
    }
    assert(!rule("hub", 0.8, 2.3) && rule("hub", 0.8, 2.5))
    // Walls under 3 s flag too: the hub gate has no material floor.
    assert(rule("hub", 0.1, 0.4))
    // Stream: per-doc seconds compare raw (no 0.05 s floor).
    assert(!rule("stream", 0.001, 0.0029) && rule("stream", 0.001, 0.0031))
    // The extreme-hub generator's balance bound rides the hub's extra.
    val hub = Gates.byName("hub")
    assert(hub.extraFlags(Map("gen_partition_max_over_mean" -> 5.1)) ==
      Seq("extreme_gen_straggler"))
    assert(hub.extraFlags(Map("gen_partition_max_over_mean" -> 1.0)).isEmpty)
  }

  // ------------------------------------------------- recall-gate policy

  test("recall gate: under-floor flags, at/above floor passes, " +
      "missing measurement flags, output sorted") {
    val floors = Map("a" -> 0.9, "b" -> 0.8, "c" -> 0.95)
    // All at or above floor: clean.
    assert(Recall.flagged(
      Map("a" -> 0.9, "b" -> 0.85, "c" -> 0.99), floors).isEmpty)
    // One under floor: exactly that one, by name.
    assert(Recall.flagged(
      Map("a" -> 0.89, "b" -> 0.85, "c" -> 0.99), floors) == Seq("a"))
    // A floored query with NO measurement (its exact twin failed, or
    // the variant errored) must flag — silence is not a pass.
    assert(Recall.flagged(
      Map("a" -> 0.95, "c" -> 0.99), floors) == Seq("b"))
    // Multiple flags come out sorted for a stable artifact.
    assert(Recall.flagged(Map.empty[String, Double], floors)
      == Seq("a", "b", "c"))
    // Measurements without floors are ignored (new variants opt in by
    // getting a floor, not by existing).
    assert(Recall.flagged(
      Map("a" -> 0.9, "b" -> 0.8, "c" -> 0.95, "zz" -> 0.0),
      floors).isEmpty)
  }

  test("a work pair is measured only where the gate's rule reads it") {
    // growth and skew judge g4 on its work; hub bounds walls only.
    assert(Gates.byName("growth").readsWork(10, "g4_jaccard"))
    assert(Gates.byName("skew").readsWork(10, "g4_jaccard"))
    assert(!Gates.byName("hub").readsWork(10, "g4_jaccard"))
  }
}
