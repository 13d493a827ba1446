package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's start-of-run load gate on a fake clock: the sleeper advances
  * the clock, the reader replays a load trace. The wait may never exceed
  * min(240 s, budget/10), whatever the step size. */
class BenchLoadGateSpec extends AnyFunSuite {

  private def gate(budgetSec: Long, loads: Seq[Double]): (Double, Long) = {
    val it = loads.iterator
    var last = loads.head
    var clockMs = 0L
    val l = Bench.awaitQuietLoad(budgetSec,
      () => { if (it.hasNext) last = it.next(); last }, ms => clockMs += ms)
    (l, clockMs)
  }

  test("a loaded host waits exactly min(240 s, budget/10), never more") {
    Seq(0L, 50L, 100L, 555L, 2100L, 2400L, 9999L).foreach { budget =>
      val (l, waited) = gate(budget, Seq(20.0))
      assert(waited == math.min(240L, budget / 10) * 1000L, s"budget $budget")
      assert(l == 20.0)
    }
  }

  test("a quiet host does not wait; a clearing host stops at the first quiet read") {
    assert(gate(2100L, Seq(1.0)) == ((1.0, 0L)))
    assert(gate(2100L, Seq(20.0, 15.0, 2.0, 20.0)) == ((2.0, 40000L)))
  }
}
