package graft

import graft.queries.Breadth130

/** Fixtures for the hundred-thirty-first wave (Breadth130
  * Page–Hinkley drift detection). */
class Wave138Spec extends SparkSpec {
  test("phStep: flat series never alarms, a level shift does") {
    var st = Option.empty[Breadth130.PhAcc]
    (1 to 20).foreach { _ =>
      st = Some(Breadth130.phStep(st, 1000L))
    }
    assert(!st.get.alarmed)
    // jump +600 cents and hold: the deviation m runs away from the
    // slow-moving mean until m − min m crosses λ = 500
    (1 to 20).foreach { _ =>
      st = Some(Breadth130.phStep(st, 1600L))
    }
    assert(st.get.alarmed)
  }

  test("alarm is absorbing: once set it survives a return to baseline") {
    var st = Option.empty[Breadth130.PhAcc]
    (1 to 20).foreach(_ => st = Some(Breadth130.phStep(st, 1000L)))
    (1 to 20).foreach(_ => st = Some(Breadth130.phStep(st, 1600L)))
    assert(st.get.alarmed)
    (1 to 40).foreach(_ => st = Some(Breadth130.phStep(st, 1000L)))
    assert(st.get.alarmed)
  }
}
