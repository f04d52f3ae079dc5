package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench --repin` may rewrite the committed quiet baseline only when the
  * fresh run's per-query medians show the host is quiet; every way the
  * committed pin can fail to provide that evidence must refuse. */
class BenchRepinSpec extends AnyFunSuite {

  private val fresh = Map("q01" -> 1.0, "q02" -> 2.0, "q03" -> 3.0)

  test("repin refuses a pin that parses but shares no query with the fresh run") {
    val disjoint = """{"queries":{"q90":1.0,"q91":2.0},"metric":"total"}"""
    val v = Bench.repinVerdict(Some(disjoint), fresh)
    assert(v.isLeft, v)
    assert(v.left.exists(_.contains("shares no query")), v)
    // a shared name whose committed median is 0 gives no ratio either
    assert(Bench.repinVerdict(Some("""{"queries":{"q01":0.0}}"""), fresh).isLeft)
  }

  test("repin guard: first pin, unparseable pin, quiet band and both tails") {
    assert(Bench.repinVerdict(None, fresh).isRight)
    assert(Bench.repinVerdict(Some("""{"metric":"total"}"""), fresh).isLeft)
    // pretty-printed pin, fresh medians at 1.05x: accepted
    val pin = "{\n  \"queries\": {\n    \"q01\": 1.0,\n    \"q02\": 2.0,\n    \"q03\": 3.0\n  }\n}"
    val quiet = fresh.map { case (k, v) => k -> v * 1.05 }
    assert(Bench.repinVerdict(Some(pin), quiet) ==
      Right("median ratio 1.05x over 3 shared queries"))
    assert(Bench.repinVerdict(Some(pin), fresh.map { case (k, v) => k -> v * 1.2 }).isLeft)
    assert(Bench.repinVerdict(Some(pin), fresh.map { case (k, v) => k -> v * 0.8 }).isLeft)
    // queries new in the fresh run do not block a quiet re-pin
    assert(Bench.repinVerdict(Some(pin), quiet + ("q99" -> 50.0)).isRight)
  }
}
