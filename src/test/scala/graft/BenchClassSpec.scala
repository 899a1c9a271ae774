package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-14: the bench artifact's query-class annotation must stay in
  * sync with the registry — a tag on a renamed/removed query silently
  * stops annotating the driver's flags.
  */
class BenchClassSpec extends AnyFunSuite {
  test("every store_rw class member is a registered query") {
    val registered = SparkEntry.queries.keySet
    val stale = Bench.storeRwClass -- registered
    assert(stale.isEmpty,
      s"storeRwClass names not in SparkEntry.queries: ${stale.mkString(", ")}")
  }

  test("class members are a strict subset (not everything is tagged)") {
    assert(Bench.storeRwClass.size < SparkEntry.queries.size / 2,
      "store_rw should tag the write-in-query minority, not the inventory")
  }

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
