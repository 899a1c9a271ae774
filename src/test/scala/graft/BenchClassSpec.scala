package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's canary queries must stay registered: a canary naming a
  * renamed/removed query silently disables the gate.
  */
class BenchClassSpec extends AnyFunSuite {
  // the bands derive from history; BenchGateSpec bounds them
  test("canary queries are registered and the set stays small") {
    Bench.canaries.foreach { name =>
      assert(SparkEntry.queries.contains(name),
        s"canary $name not in SparkEntry.queries — gate silently dead")
    }
    // the canary must stay CHEAP relative to the sweep: tiny fixed set
    assert(Bench.canaries.size <= 3)
  }
}
