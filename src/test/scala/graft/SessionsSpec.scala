package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOfStrategy

/** Sessions.local installs graft's engine extensions once, at build
  * time: every session and every `newSession()` of one plans as-of joins
  * and resolves graft's SQL functions without a per-call registration.
  */
class SessionsSpec extends AnyFunSuite {
  test("a new session carries the as-of strategy and graft's SQL functions") {
    val s = SparkTestSession.spark.newSession()
    assert(s.sessionState.planner.strategies.contains(AsOfStrategy))
    val dot = s.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(dot == 11.0)
  }
}
